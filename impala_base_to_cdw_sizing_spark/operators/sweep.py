"""Interval-overlap (sweep-line) concurrency analytics — SURVEY.md §2.F.

The reference explodes each accepted query into a +1 start event and a -1
end event, sorts all events by timestamp, and accumulates running sums and
conditional maxima in one pass (``impala_query_sizing.py:307-396``).

Spark-first re-expression:
- F1 explode  → ``inline(array(struct(start…), struct(end…)))`` — a
  generator expression, no shuffle.
- F2+F3 sort + prefix sums → a running-sum window over a deterministic
  total order ``(ts_ms, seq, sign DESC)``.
- F4 conditional maxima → per-bucket maxima of the local running sums
  at start events, lifted by each bucket's carry-in (below);
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

Scale: neither the running sums nor the maxima plan a partition-less
window. Events are range-bucketed by timestamp. :func:`running_sums`
(the per-event table) adds each bucket's carry-in to its local running
sums by :func:`segmented.segmented_cumsum`; integer arithmetic is
order-independent, so the result equals the single-window running sum
of the DuckDB oracle (``RUNNING_SUMS_SQL``) exactly. :func:`sweep_maxima`
needs only the maxima, and a bucket's carry-in is one constant added to
all its events: ``max(local + carry) = max(local) + carry``. So it
reduces each bucket to its totals and its local maxima in one pass, runs
:func:`segmented.bucket_carry` on that ≤ 64-row frame and takes the
maximum over buckets. It never joins the carry back onto the events.

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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .segmented import bucket_carry, segmented_cumsum

MEASURES = ["pods", "cache", "mem", "cpu", "spill", "data_rate"]
_SCALE = 1_000_000.0
DEC0 = "decimal(38,0)"
# uniform time-range buckets of the segmented sweep
_N_BUCKETS = 64
# sweep_maxima output column per measure, in output order
_MAXIMA_NAMES = {
    "pods": "max_pods_workload",
    "cache": "max_concurrent_cache",
    "mem": "max_concurrent_memory",
    "cpu": "max_concurrent_cores",
    "spill": "max_concurrent_spill",
    "data_rate": "max_concurrent_data_rate",
}


def _micro_sql(x: str, d: str = "") -> str:
    """Quantize a measure to integer micro-units, deterministically.
    ``d="D"`` makes the literals DOUBLE in Spark SQL text; the DuckDB
    oracle text leaves them unsuffixed."""
    return f"CAST(floor(({x}) * 1000000.0{d} + 0.5{d}) AS BIGINT)"


# raw measure expressions per impala_query_sizing.py:311-320
_RAW_MEASURES: dict[str, str] = {
    "pods": "min_executor_pod_raw",
    "cache": "reqd_cache_gb / num_backends",
    "mem": "reqd_agg_mem / num_backends",
    "cpu": "avg_vcores",
    "spill": "memory_spilled_gb / num_backends",
    "data_rate": "avg_data_rate",
}


def explode_events(kept: DataFrame) -> DataFrame:
    """F1: one row per interval endpoint; measures signed, micro-quantized."""

    def endpoint(ts: str, sign: int) -> str:
        neg = "-" if sign < 0 else ""
        fields = [f"'ts_ms', {ts}", f"'sign', {sign}"] + [
            f"'{m}_u', {neg}{_micro_sql(expr, 'D')}" for m, expr in _RAW_MEASURES.items()
        ]
        return f"named_struct({', '.join(fields)})"

    return kept.selectExpr(
        "seq",
        f"inline(array({endpoint('start_ms + admission_wait', 1)}, "
        f"{endpoint('end_ms', -1)}))",
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


def _bucketed(events: DataFrame) -> DataFrame:
    """Cache ``events`` and add ``bucket``: one of ``_N_BUCKETS`` uniform
    time ranges, an ordering-consistent bucketing for the sweep order."""
    # The min/max agg is an eager action: without the cache it executes
    # the whole upstream pipeline once for the bucket bounds, and the
    # sweep re-executes it. Events are 2 rows × a handful of longs per
    # query — the natural materialization.
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
    return events.withColumn(
        "bucket", F.expr(f"CAST((ts_ms - {lo}) DIV {span} AS INT)")
    )


def running_sums(events: DataFrame) -> DataFrame:
    """F2+F3: exact global running sums over the (ts_ms, seq, sign DESC)
    total order, by :func:`segmented.segmented_cumsum` over time-range
    buckets."""
    order = [F.col("ts_ms").asc(), F.col("seq").asc(), F.col("sign").desc()]
    running = segmented_cumsum(
        _bucketed(events),
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


def sweep_maxima(events: DataFrame) -> DataFrame:
    """F4: conditional running maxima of the :func:`explode_events` rows —
    only start events update maxima (:381-396); the max-pods timestamp
    uses ``>=`` → *latest* tie wins.

    Per bucket, one window gives the local running sums and one aggregate
    keeps the bucket totals, the local maxima at start events and the
    local max-pods event ``(run_pods, pos, ts_ms)``. The totals give each
    bucket's carry-in; a maximum is then ``max(local + carry)`` over
    buckets. Sums stay exact decimals until one final division, and
    ``CAST(x AS DOUBLE) / 1e6`` is monotone, so each maximum equals the
    maximum of ``running_sums``' doubles. The timestamp follows
    ``SWEEP_MAXIMA_SQL``'s order (``run_pods``, ``event_pos``): the same
    double ``run_pods``, then (bucket, local position), which is the
    global position. Inside one bucket the local maximum is taken on the
    exact sum; that picks the same event unless two distinct sums in the
    bucket round to one double, which needs a running pod sum above
    2^33."""
    win = "PARTITION BY bucket ORDER BY ts_ms, seq, sign DESC"
    frame = f"OVER ({win} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    sums = {"queries": "CAST(sign AS BIGINT)"} | {
        m: f"CAST({m}_u AS {DEC0})" for m in MEASURES
    }
    local = _bucketed(events).selectExpr(
        "bucket", "ts_ms", "sign",
        *[f"{x} AS {n}" for n, x in sums.items()],
        *[f"sum({x}) {frame} AS run_{n}" for n, x in sums.items()],
        f"row_number() OVER ({win}) AS pos",
    )
    per_bucket = local.groupBy("bucket").agg(
        *[F.expr(f"sum({n}) AS {n}") for n in sums],
        *[F.expr(f"max(CASE WHEN sign > 0 THEN run_{n} END) AS max_{n}") for n in sums],
        F.expr("max(CASE WHEN sign > 0 THEN struct(run_pods, pos, ts_ms) END) AS top"),
    )

    def lifted(n: str) -> str:
        return f"max(max_{n} + carry_{n})"

    return (
        bucket_carry(per_bucket, "bucket", list(sums))
        .where("top IS NOT NULL")
        .selectExpr(
            f"{lifted('queries')} AS max_concurrent_queries",
            *[
                f"CAST({lifted(m)} AS DOUBLE) / {_SCALE!r}D AS {out}"
                for m, out in _MAXIMA_NAMES.items()
            ],
            f"max_by(top.ts_ms, struct(CAST(top.run_pods + carry_pods AS DOUBLE)"
            f" / {_SCALE!r}D, bucket, top.pos)) AS max_pods_workload_ts_ms",
        )
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
