"""Interval-overlap (sweep-line) concurrency analytics — SURVEY.md §2.F.

The reference explodes each accepted query into a +1 start event and a -1
end event, sorts all events by timestamp, and accumulates running sums and
conditional maxima in one pass (``impala_query_sizing.py:307-396``).

Spark-first re-expression:
- F1 explode  → ``inline(array(struct(start…), struct(end…)))`` — a
  generator expression, no shuffle.
- F2+F3 sort + prefix sums → a running-sum window over a deterministic
  total order ``(ts_ms, seq, sign DESC)``.
- F4 conditional maxima → filter to start events, one aggregate;
  latest-tie-wins for the max-pods timestamp (the ``>=`` at :384-386)
  reproduced via an explicit (value, position) ordering.

Numeric determinism: floating prefix sums depend on accumulation order
and even on an engine's window-aggregation structure (DuckDB uses a
segment tree; Spark accumulates sequentially), and double→decimal casts
differ between engines (Spark goes through the shortest string repr,
DuckDB rounds the binary value). So each measure is quantized ONCE to
integer micro-units — ``floor(x * 1e6 + 0.5)`` — the same IEEE op
sequence everywhere; running sums are exact integer/decimal arithmetic;
one final division emits doubles. End events negate the quantized start
value, so a query's events cancel to exactly zero.

Scale: :func:`running_sums` never plans a partition-less window. Events
are range-bucketed by timestamp and summed by
:func:`segmented.segmented_cumsum`; integer arithmetic is
order-independent, so the result equals the single-window running sum
of the DuckDB oracle (``RUNNING_SUMS_SQL``) exactly.

Semantics preserved from the reference:
- start events use the admission-adjusted timestamp (C14: start +
  admission_wait) while end events use the raw end time (:307-333);
- start rows carry the *pre-ceil* pod demand and raw per-backend
  divisions, but the already-rounded ``avg_vcores`` / ``avg_data_rate``
  (:311-320);
- maxima only update at start events (:381).

Fixed-with-note: the reference's sort key is a *string* timestamp, with
start events carrying a malformed ``…SSZmmm`` suffix (:310); this engine
sorts on exact epoch-millis with a deterministic tie-break (SURVEY §7.0).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .segmented import segmented_cumsum

MEASURES = ["pods", "cache", "mem", "cpu", "spill", "data_rate"]
_SCALE = 1_000_000.0
DEC0 = "decimal(38,0)"
# uniform time-range buckets of the segmented sweep
_N_BUCKETS = 64


def _micro(c: Column) -> Column:
    """Quantize a measure to integer micro-units, deterministically."""
    return F.floor(c * _SCALE + 0.5).cast("long")


def _micro_sql(x: str) -> str:
    return f"CAST(floor(({x}) * 1000000.0 + 0.5) AS BIGINT)"


# raw measure expressions per impala_query_sizing.py:311-320
_RAW_MEASURES: dict[str, str] = {
    "pods": "min_executor_pod_raw",
    "cache": "reqd_cache_gb / num_backends",
    "mem": "reqd_agg_mem / num_backends",
    "cpu": "avg_vcores",
    "spill": "memory_spilled_gb / num_backends",
    "data_rate": "avg_data_rate",
}


def explode_events(kept: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """F1: one row per interval endpoint; measures signed, micro-quantized.

    ``keys`` passes extra grouping columns (e.g. ``("pool",)``) through to
    the endpoint rows for keyed downstream sweeps; the default (none)
    keeps the global-sweep oracle path byte-identical."""
    quantized = kept.withColumns(
        {f"{m}_u": _micro(F.expr(expr)) for m, expr in _RAW_MEASURES.items()}
    )
    start = F.struct(
        (F.col("start_ms") + F.col("admission_wait")).alias("ts_ms"),
        F.lit(1).alias("sign"),
        *[F.col(f"{m}_u").alias(f"{m}_u") for m in MEASURES],
    )
    end = F.struct(
        F.col("end_ms").alias("ts_ms"),
        F.lit(-1).alias("sign"),
        *[(-F.col(f"{m}_u")).alias(f"{m}_u") for m in MEASURES],
    )
    return quantized.select(
        F.col("seq"), *[F.col(k) for k in keys], F.inline(F.array(start, end))
    )


_MICRO_COLS = ",\n      ".join(
    f"{_micro_sql(expr)} AS {m}_u" for m, expr in _RAW_MEASURES.items()
)
_NEG_MICRO_COLS = ",\n      ".join(
    f"-{_micro_sql(expr)} AS {m}_u" for m, expr in _RAW_MEASURES.items()
)

EXPLODE_EVENTS_CTE = f"""
sweep_events AS (
  SELECT seq, start_ms + admission_wait AS ts_ms, 1 AS sign,
      {_MICRO_COLS}
  FROM kept
  UNION ALL
  SELECT seq, end_ms AS ts_ms, -1 AS sign,
      {_NEG_MICRO_COLS}
  FROM kept
)
"""


def running_sums(events: DataFrame) -> DataFrame:
    """F2+F3: exact global running sums over the (ts_ms, seq, sign DESC)
    total order, by :func:`segmented.segmented_cumsum` over time-range
    buckets."""
    order = [F.col("ts_ms").asc(), F.col("seq").asc(), F.col("sign").desc()]

    # The min/max agg is an eager action: without the cache it executes
    # the whole upstream pipeline once for the bucket bounds, and the
    # local / totals branches below re-execute it twice more. Events are
    # 2 rows × a handful of longs per query — the natural materialization.
    events = events.cache()
    lo, hi = events.agg(F.min("ts_ms"), F.max("ts_ms")).first()
    if lo is None:  # empty input: any constant bucketing is exact
        lo, hi = 0, 0
    span = max(1, (hi - lo) // _N_BUCKETS + 1)
    # Uniform time-range buckets: assignment is ONE subtract + integer
    # divide per row (plan size constant in the bucket count — the former
    # chained-when form compiled one comparison per bucket per row). The
    # running sums are exact integer arithmetic, so ANY bucketization
    # yields bit-identical output (test_segmented_equals_global); uniform
    # slices only affect partition balance, and at 100 TB the same
    # expression becomes calendar bucketing (fixed span = hour/day) with
    # no bounds action at all. AQE re-splits oversized buckets at runtime.
    ev = events.withColumn(
        "bucket", F.expr(f"CAST((ts_ms - {lo}) DIV {span} AS INT)")
    )

    running = segmented_cumsum(
        ev,
        "bucket",
        order,
        {
            **{m: F.col(f"{m}_u").cast(DEC0) for m in MEASURES},
            "queries": F.col("sign").cast("long"),
            "pos": F.lit(1),
        },
    )
    return running.select(
        "seq",
        "ts_ms",
        "sign",
        F.col("queries").alias("run_queries"),
        *[(F.col(m).cast("double") / _SCALE).alias(f"run_{m}") for m in MEASURES],
        F.col("pos").cast("int").alias("event_pos"),
    )


_RUN_COLS_SQL = ",\n  ".join(
    f"CAST(CAST(SUM(CAST({m}_u AS DECIMAL(38,0))) OVER w AS STRING) AS DOUBLE)"
    f" / 1000000.0 AS run_{m}"
    for m in MEASURES
)

RUNNING_SUMS_SQL = f"""
SELECT seq, ts_ms, sign,
  CAST(SUM(CAST(sign AS BIGINT)) OVER w AS BIGINT) AS run_queries,
  {_RUN_COLS_SQL},
  CAST(ROW_NUMBER() OVER (ORDER BY ts_ms, seq, sign DESC) AS INTEGER) AS event_pos
FROM sweep_events
WINDOW w AS (ORDER BY ts_ms, seq, sign DESC ROWS UNBOUNDED PRECEDING)
"""


def sweep_maxima(running: DataFrame) -> DataFrame:
    """F4: conditional running maxima — only start events update maxima
    (:381-396); max-pods timestamp uses ``>=`` → *latest* tie wins."""
    starts = running.filter(F.col("sign") > 0)
    return starts.agg(
        F.max("run_queries").alias("max_concurrent_queries"),
        F.max("run_pods").alias("max_pods_workload"),
        F.max("run_cache").alias("max_concurrent_cache"),
        F.max("run_mem").alias("max_concurrent_memory"),
        F.max("run_cpu").alias("max_concurrent_cores"),
        F.max("run_spill").alias("max_concurrent_spill"),
        F.max("run_data_rate").alias("max_concurrent_data_rate"),
        F.max_by(
            F.col("ts_ms"), F.struct(F.col("run_pods"), F.col("event_pos"))
        ).alias("max_pods_workload_ts_ms"),
    )


SWEEP_MAXIMA_SQL = """
SELECT
  MAX(run_queries) AS max_concurrent_queries,
  MAX(run_pods) AS max_pods_workload,
  MAX(run_cache) AS max_concurrent_cache,
  MAX(run_mem) AS max_concurrent_memory,
  MAX(run_cpu) AS max_concurrent_cores,
  MAX(run_spill) AS max_concurrent_spill,
  MAX(run_data_rate) AS max_concurrent_data_rate,
  (SELECT ts_ms FROM running WHERE sign > 0
   ORDER BY run_pods DESC, event_pos DESC LIMIT 1) AS max_pods_workload_ts_ms
FROM running WHERE sign > 0
"""
