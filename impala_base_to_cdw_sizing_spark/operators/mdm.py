"""Master-data-management survivorship (late r8).

``rel_golden_record`` — consolidate each user's event history into one
*golden record* where every field survives from the latest event **that
actually carries it** (the MDM survivorship rule), not merely the
latest event:

- ``last_value_nonerror``: the most recent ``value`` among non-error
  events (error events carry no meaningful payload — the field is
  masked to NULL before the IGNORE NULLS pick);
- ``last_props_k``: the most recent ``props.k`` among purchase/signup
  events only (the "commerce attributes travel on commerce events"
  rule), extracted with the same regexp in both engines;
- ``last_event_type``, ``first_ts`` / ``last_ts``, ``n_events``: the
  plain recency/window facts.

The point of the operator is that the surviving fields come from
DIFFERENT source rows — a plain per-user argmax cannot express it, and
a self-join per field would rescan the table once per attribute. One
user-partitioned window (ordered by ``ts, event_id`` — the engine's
deterministic event order) with ``LAST_VALUE(... IGNORE NULLS)`` over
the full frame computes every field in a single pass; the final
``rn = 1`` filter keeps one row per user. Fields that never occur for
a user are COALESCEd to typed sentinels (-1) so the cross-engine
comparison never rests on null-encoding differences.

Scale shape: one shuffle on user_id (the window), no global sort, no
joins; output is one row per user. At 100 TB the window partitions by
the highest-cardinality key in the table — exactly the
well-distributed shape AQE handles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries_ext import register
from ..sources.files import load_events

# backslash-free on purpose: Spark SQL string literals eat unknown
# backslash escapes ('\d' -> 'd') while DuckDB passes them through —
# character classes keep the pattern byte-identical in both dialects
_K_RE = '"k": *([0-9]+)'


def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).selectExpr(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "CASE WHEN event_type <> 'error' THEN value END AS value_nonerr",
        "CASE WHEN event_type IN ('purchase', 'signup') THEN"
        f" CAST(regexp_extract(props, '{_K_RE}', 1) AS BIGINT) END AS props_k",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        ev.select(
            "user_id",
            F.row_number().over(w).alias("rn_asc"),
            F.count("*").over(w_full).alias("n_events"),
            F.min("ts").over(w_full).alias("first_ts"),
            F.max("ts").over(w_full).alias("last_ts"),
            F.last("event_type").over(w_full).alias("last_event_type"),
            F.last("value_nonerr", ignorenulls=True)
            .over(w_full)
            .alias("lv"),
            F.last("props_k", ignorenulls=True).over(w_full).alias("lk"),
        )
        .filter(F.col("rn_asc") == 1)
        .selectExpr(
            "user_id",
            "CAST(n_events AS BIGINT) AS n_events",
            "first_ts",
            "last_ts",
            "last_event_type",
            "coalesce(lv, CAST(-1.0 AS DOUBLE)) AS last_value_nonerror",
            "coalesce(lk, CAST(-1 AS BIGINT)) AS last_props_k",
        )
    )


SQL_GOLDEN_RECORD = f"""
WITH ev AS (
  SELECT user_id, epoch_ns(ts) AS ts, event_id, event_type,
    CASE WHEN event_type <> 'error' THEN value END AS value_nonerr,
    CASE WHEN event_type IN ('purchase', 'signup') THEN
      CAST(regexp_extract(props, '{_K_RE}', 1) AS BIGINT) END AS props_k
  FROM events
),
picked AS (
  SELECT user_id,
    ROW_NUMBER() OVER w_ord AS rn_asc,
    CAST(COUNT(*) OVER w_full AS BIGINT) AS n_events,
    MIN(ts) OVER w_full AS first_ts,
    MAX(ts) OVER w_full AS last_ts,
    LAST_VALUE(event_type) OVER w_full AS last_event_type,
    LAST_VALUE(value_nonerr IGNORE NULLS) OVER w_full AS lv,
    LAST_VALUE(props_k IGNORE NULLS) OVER w_full AS lk
  FROM ev
  WINDOW
    w_ord AS (PARTITION BY user_id ORDER BY ts, event_id),
    w_full AS (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT user_id, n_events, first_ts, last_ts, last_event_type,
  COALESCE(lv, CAST(-1.0 AS DOUBLE)) AS last_value_nonerror,
  COALESCE(lk, CAST(-1 AS BIGINT)) AS last_props_k
FROM picked WHERE rn_asc = 1
"""


def register_all() -> None:
    register("rel_golden_record", q_golden_record, SQL_GOLDEN_RECORD)
