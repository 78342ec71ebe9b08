"""Deterministic query-history adapter over the ``events`` testdata table.

The driver's correctness oracle (DuckDB) runs against the pre-registered
testdata views, which do not include a query-history table. This module
derives one — deterministically, from ``events`` — TWICE:

1. :func:`query_history_from_events` — the Spark DataFrame transform the
   engine's queries use.
2. :data:`QUERY_HISTORY_CTE` — the equivalent DuckDB SQL CTE every oracle
   query is prefixed with.

Both are written so every value is the result of the *same sequence of
exact integer ops and single IEEE-754 double ops* in both engines
(integer modulo → one double division → one double multiplication), which
makes the outputs bit-identical and hash-comparable.

Column contract mirrors FIXTURES.md F1 / ``impala_query_sizing.py:174-187``
with timestamps carried as epoch milliseconds (exact integer arithmetic;
no interval/timezone semantics to diverge on). ``has_mem_metric`` emulates
the API-mode missing ``memory_aggregate_peak`` attribute that feeds the
skip route (``impala_query_sizing.py:197-200``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import MEMO


# One derived query_history per (session, sf_dir), cached: every sizing
# query starts from this table, so materializing it once lets the whole
# sizing family share a single events scan + derivation instead of
# re-deriving per query (at 100 TB this is "stage the fact table once").
# The frame is 2 small columns-of-longs per event row — cache-friendly.
# Memo owner "qh" in the shared registry (memo.py).


def query_history_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events(event_id, ts, user_id, event_type, …) → query_history.

    ``events.ts`` arrives normalized to epoch-nanos BIGINT by
    :func:`..sources.files.load_events` (which absorbs the parquet
    TIMESTAMP(NANOS)-vs-(MICROS) testdata difference); floor-divide to
    epoch millis — exact integer arithmetic, no double rounding at 1e18
    magnitudes.

    Memoized + cached per (application, sf_dir); the transform is pure,
    so consumers share one materialization.
    """
    key = ("qh", spark.sparkContext.applicationId, sf_dir)
    memo = MEMO.get(key)
    if memo is not None:
        return memo
    from .files import load_events

    e = load_events(spark, sf_dir)
    eid = F.col("event_id")

    duration_millis = (F.lit(500) + (eid * 7919 + F.col("user_id") * 104729) % 7200000)
    mem_scale = (
        F.when(eid % 101 == 0, 25).when(eid % 11 == 0, 5).otherwise(1)
    )
    cache_scale = (
        F.when(eid % 103 == 0, 20).when(eid % 19 == 0, 3).otherwise(1)
    )
    spill_scale = (
        F.when(eid % 107 == 0, 25).when(eid % 13 == 0, 5).otherwise(1)
    )
    cpu_scale = F.when(eid % 23 == 0, 20).otherwise(1)
    min_par_target = (F.lit(1) + eid % 64) * cpu_scale

    df = e.select(
        eid.alias("seq"),
        F.concat(F.lit("q-"), F.lpad(eid.cast("string"), 10, "0")).alias("query_id"),
        F.col("event_type").alias("pool"),
        F.expr("ts div 1000000").alias("start_ms"),
        duration_millis.cast("long").alias("duration_millis"),
        (((eid * 31) % 500001) / 100.0 * cache_scale).alias("reqd_cache_gb"),
        (((eid * 53 + 7) % 200001) / 100.0 * mem_scale).alias("reqd_agg_mem"),
        F.when(eid % 10 < 7, F.lit(0.0))
        .otherwise(((eid * 17) % 300001) / 100.0 * spill_scale)
        .alias("memory_spilled_gb"),
        (duration_millis / 1000.0 * min_par_target).alias("cpu_time_sec"),
        F.when(eid % 20 == 0, "DDL")
        .when(eid % 20 == 1, "DML")
        .otherwise("QUERY")
        .alias("query_type"),
        ((eid * 13) % 250).cast("long").alias("admission_wait"),
        (F.lit(1) + eid % 40).cast("long").alias("num_backends"),
        (eid % 37 != 0).alias("has_mem_metric"),
    )
    out = df.withColumn(
        "end_ms", F.col("start_ms") + F.col("duration_millis")
    ).cache()
    MEMO[key] = out
    return out


# DuckDB CTE — MUST stay op-for-op identical to the transform above.
QUERY_HISTORY_CTE = """
query_history AS (
  SELECT
    event_id AS seq,
    'q-' || lpad(CAST(event_id AS VARCHAR), 10, '0') AS query_id,
    event_type AS pool,
    epoch_ns(ts) // 1000000 AS start_ms,
    CAST(500 + (event_id * 7919 + user_id * 104729) % 7200000 AS BIGINT)
      AS duration_millis,
    ((event_id * 31) % 500001) / 100.0
      * (CASE WHEN event_id % 103 = 0 THEN 20
              WHEN event_id % 19 = 0 THEN 3 ELSE 1 END) AS reqd_cache_gb,
    ((event_id * 53 + 7) % 200001) / 100.0
      * (CASE WHEN event_id % 101 = 0 THEN 25
              WHEN event_id % 11 = 0 THEN 5 ELSE 1 END) AS reqd_agg_mem,
    CASE WHEN event_id % 10 < 7 THEN 0.0
         ELSE ((event_id * 17) % 300001) / 100.0
              * (CASE WHEN event_id % 107 = 0 THEN 25
                      WHEN event_id % 13 = 0 THEN 5 ELSE 1 END)
    END AS memory_spilled_gb,
    (500 + (event_id * 7919 + user_id * 104729) % 7200000) / 1000.0
      * ((1 + event_id % 64) * (CASE WHEN event_id % 23 = 0 THEN 20 ELSE 1 END))
      AS cpu_time_sec,
    CASE WHEN event_id % 20 = 0 THEN 'DDL'
         WHEN event_id % 20 = 1 THEN 'DML'
         ELSE 'QUERY' END AS query_type,
    CAST((event_id * 13) % 250 AS BIGINT) AS admission_wait,
    CAST(1 + event_id % 40 AS BIGINT) AS num_backends,
    (event_id % 37 <> 0) AS has_mem_metric,
    epoch_ns(ts) // 1000000 + CAST(500 + (event_id * 7919 + user_id * 104729) % 7200000 AS BIGINT)
      AS end_ms
  FROM events
)
"""


def oracle_with(*ctes: str, body: str) -> str:
    """Assemble an oracle query: ``WITH <query_history>, <extra ctes> <body>``."""
    parts = [QUERY_HISTORY_CTE.strip()] + [c.strip() for c in ctes]
    return "WITH " + ",\n".join(parts) + "\n" + body
