"""Explicit schemas for every boundary (SURVEY.md §1.3: the reference's
schemas are fixed-by-convention, enforced nowhere — here they are enforced
on read).

Citations into ``/root/reference/impala_query_sizing.py``:
- QUERY_HISTORY_SCHEMA: the 12-field CSV-replay subset read at ``:174-187``.
- API_DOC_SCHEMA: the CM ``impalaQueries`` response element read at
  ``:189-208`` (nested ``attributes`` string map).
- OUTPUT_FIELDS / OUTPUT_SCHEMA: the 24-column output row (``:120,260``),
  including the preserved header typo ``in_executor_pod_spill`` for the
  value computed as ``min_executor_pod_spill_rounded`` (``:249,260``).
- SIZE_BUCKETS: the two hardcoded range dicts (``:14-28``) as a dimension
  table; ``dim='pods'`` is live, ``dim='cache_gb'`` is retained-but-dead
  (the ``ttype == 'cache'`` branch at ``:73-78`` is unreachable — SURVEY
  §2.E2) but shipped for range-join testing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# --- replay-mode input (EP2) -------------------------------------------------

QUERY_HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType(), False),
        T.StructField("pool", T.StringType(), True),
        T.StructField("start_time", T.StringType(), True),  # ISO-8601 w/ millis
        T.StructField("end_time", T.StringType(), True),
        T.StructField("duration_millis", T.LongType(), True),
        T.StructField("reqd_cache_gb", T.DoubleType(), True),  # hdfs_bytes_read_gb
        T.StructField("reqd_agg_mem", T.DoubleType(), True),  # mem_agg_peak_gb
        T.StructField("memory_spilled_gb", T.DoubleType(), True),
        T.StructField("cpu_time_sec", T.DoubleType(), True),
        T.StructField("query_type", T.StringType(), True),
        T.StructField("admission_wait", T.IntegerType(), True),  # ms
        T.StructField("num_backends", T.IntegerType(), True),
    ]
)

# --- API-mode input (EP1), nested --------------------------------------------

API_DOC_SCHEMA = T.StructType(
    [
        T.StructField("queryId", T.StringType(), False),
        T.StructField("startTime", T.StringType(), True),
        T.StructField("endTime", T.StringType(), True),
        T.StructField("durationMillis", T.LongType(), True),
        T.StructField("queryState", T.StringType(), True),
        T.StructField("user", T.StringType(), True),
        T.StructField("queryType", T.StringType(), True),
        # string-keyed map mirrors skip-if-missing semantics of :197-200
        T.StructField("attributes", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


# --- 24-column output (golden schema, F5 in FIXTURES.md) ----------------------

OUTPUT_FIELDS = [
    "query_id", "pool", "start_time", "end_time", "duration_millis",
    "reqd_cache_gb", "min_exec_pod_cache", "tsize_cache",
    "reqd_agg_mem", "min_exec_pod_mem", "tsize_mem",
    "cpu_time_sec", "query_sla_sec",
    "reqd_parallelism_cpu", "min_exec_pod_cpu", "tsize_cpu",
    "memory_spilled_gb", "in_executor_pod_spill", "tsize_spill",
    "min_executor_pod", "recommended_tsize",
    "query_type", "admission_wait", "num_backends",
]

# --- classification dimension table (E1) -------------------------------------

# (dim, lo, hi, label) — impala_query_sizing.py:14-28
SIZE_BUCKET_ROWS = [
    ("pods", 0, 2, "XSMALL"),
    ("pods", 3, 10, "SMALL"),
    ("pods", 11, 20, "MEDIUM"),
    ("pods", 21, 40, "LARGE"),
    ("pods", 41, 999, "CUSTOM"),
    ("cache_gb", 0, 400, "XSMALL"),
    ("cache_gb", 401, 2000, "SMALL"),
    ("cache_gb", 2001, 4000, "MEDIUM"),
    ("cache_gb", 4001, 8000, "LARGE"),
    ("cache_gb", 8001, 99999, "CUSTOM"),
]

SIZE_BUCKET_SCHEMA = T.StructType(
    [
        T.StructField("dim", T.StringType(), False),
        T.StructField("lo", T.LongType(), False),
        T.StructField("hi", T.LongType(), False),
        T.StructField("label", T.StringType(), False),
    ]
)

SIZE_ORDER = ["XSMALL", "SMALL", "MEDIUM", "LARGE", "CUSTOM"]


def size_buckets(spark: SparkSession, dim: str = "pods") -> DataFrame:
    """The bucket dimension as a (tiny, broadcastable) DataFrame."""
    df = spark.createDataFrame(SIZE_BUCKET_ROWS, SIZE_BUCKET_SCHEMA)
    return df.filter(df.dim == dim) if dim else df
