"""EP1 flatten under the oracle gate (r10 verdict #2).

``sizing_api_flatten`` drives the one reference dataflow whose arithmetic
previously never passed through ``oracle_sql()``: the nested CM API doc →
flat query-history projection (``sources/cm_api.flatten_api_docs``;
reference ``impala_query_sizing.py:189-208``) plus the D1 skip-route
condition (``:197-200``).

Input is the committed, deterministic fixture
``fixtures/api_docs.parquet`` (FIXTURES.md F2, ``tools/gen_api_fixture.py``
— pure integer arithmetic, no RNG/network). Spark reads it through the
real ``API_DOC_SCHEMA`` MAP column and runs the real flatten; DuckDB reads
the SAME file and replicates every extraction/cast/round in SQL
(map access is ``attributes['k'][1]`` — DuckDB map extraction returns a
list, missing key → empty list → NULL, matching Spark's
``try_element_at``). Rounding is the repo-wide ``round2_sql`` form so the
hashes match bit-for-bit.

Scale shape: the flatten is a pure columnar projection over the doc scan —
zero shuffles, whole-stage codegen, trivially partition-parallel at any
input size.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FIXTURE = str(Path(__file__).resolve().parents[2] / "fixtures" / "api_docs.parquet")

_GB = 1024 * 1024 * 1024


def q_sizing_api_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flatten the recorded API-doc batch and attach the D1 route.

    ``sf_dir`` is unused: admin-API volumes are fixture-scale by nature
    (the reference pages them through one HTTP loop); the distributed
    analytics downstream of the flatten are what scale with sf.
    """
    from ..schemas import API_DOC_SCHEMA
    from ..sources.cm_api import flatten_api_docs

    docs = spark.read.schema(API_DOC_SCHEMA).parquet(FIXTURE)
    flat = flatten_api_docs(docs)
    return flat.withColumn(
        "route",
        F.when(F.col("query_type") != "QUERY", "rejected")
        .when(F.col("has_mem_metric"), "accepted")
        .otherwise("skipped"),
    )


def _round2(x: str) -> str:
    from ..functions import round2_sql

    return round2_sql(x)


def oracle_api_flatten() -> str:
    """DuckDB twin over the same fixture file."""
    return f"""
SELECT
  queryId AS query_id,
  attributes['pool'][1] AS pool,
  startTime AS start_time,
  endTime AS end_time,
  CAST(durationMillis AS BIGINT) AS duration_millis,
  {_round2(f"TRY_CAST(attributes['hdfs_bytes_read'][1] AS DOUBLE) / {_GB}")}
    AS reqd_cache_gb,
  {_round2(f"TRY_CAST(attributes['memory_aggregate_peak'][1] AS DOUBLE) / {_GB}")}
    AS reqd_agg_mem,
  {_round2(f"TRY_CAST(attributes['memory_spilled'][1] AS DOUBLE) / {_GB}")}
    AS memory_spilled_gb,
  {_round2("TRY_CAST(attributes['thread_cpu_time'][1] AS DOUBLE) / 1000")}
    AS cpu_time_sec,
  queryType AS query_type,
  TRY_CAST(attributes['admission_wait'][1] AS INTEGER) AS admission_wait,
  TRY_CAST(attributes['num_backends'][1] AS INTEGER) AS num_backends,
  (attributes['memory_aggregate_peak'][1] IS NOT NULL) AS has_mem_metric,
  queryState AS query_state,
  "user" AS user_id,
  CASE WHEN queryType <> 'QUERY' THEN 'rejected'
       WHEN attributes['memory_aggregate_peak'][1] IS NOT NULL THEN 'accepted'
       ELSE 'skipped' END AS route
FROM read_parquet('{FIXTURE}')
"""


def register_all() -> None:
    from . import queries_ext

    queries_ext.register("sizing_api_flatten", q_sizing_api_flatten, oracle_api_flatten())
