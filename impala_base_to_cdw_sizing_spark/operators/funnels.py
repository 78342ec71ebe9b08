"""Event-sequence analytics over ``events`` — funnel conversion and
retention cohorts, the two workhorse product-analytics queries a
warehouse engine is expected to answer (and the reference's event
stream makes natural), plus SCD2 intervals and a banded interval join.

- ``rel_funnel_window``: the time-bounded view → click → purchase
  funnel (ClickHouse ``windowFunnel`` semantics). Each stage must
  follow the previous one within 24 h, and the funnel may start at any
  view — the order-sensitive definition, which is what separates a
  funnel from three independent existence checks.
- ``rel_retention_cohorts``: weekly cohort retention — users grouped
  by first-seen week, counted in each subsequent week they were
  active. The (cohort, offset, n_users) long form is the standard
  retention triangle.

Determinism: all timestamps are exact epoch-nanos integers
(``load_events`` normalization / DuckDB ``epoch_ns``), week ids are
integer floor-divisions, and stage timestamps are MINs — no floats
anywhere.

Scale: the funnel joins are user_id equi-joins with range predicates
(fan-out only within one user's events) and collapse per (user, start)
at once; retention is two aggregations (first-seen, distinct user-week)
and one join keyed on user_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.files import load_events
from .queries_ext import register

_WEEK_NS = 7 * 24 * 3600 * 1_000_000_000


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cohort_week, week_offset, n_users): of the users first seen in
    ``cohort_week``, how many were active ``week_offset`` weeks later
    (offset 0 = the cohort's own size, by construction)."""
    ev = load_events(spark, sf_dir).selectExpr(
        "user_id", f"CAST(ts div {_WEEK_NS} AS BIGINT) AS week"
    )
    first = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    active = ev.distinct()
    return (
        active.join(first, "user_id")
        .selectExpr("cohort_week", "week - cohort_week AS week_offset")
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").cast("long").alias("n_users"))
    )


SQL_RETENTION_COHORTS = f"""
WITH ev AS (
  SELECT DISTINCT user_id, epoch_ns(ts) // {_WEEK_NS} AS week FROM events
),
first AS (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id)
SELECT f.cohort_week, e.week - f.cohort_week AS week_offset,
  CAST(COUNT(*) AS BIGINT) AS n_users
FROM ev e JOIN first f ON e.user_id = f.user_id
GROUP BY 1, 2
"""


# --- SCD2 interval reconstruction -------------------------------------------------


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) reconstruction: compress each
    user's event stream into validity intervals of its ``event_type``
    attribute — one row per run of consecutive equal values, carrying
    (valid_from_ns, valid_to_ns, n_events); the open (current) interval
    has ``valid_to_ns`` NULL. The standard change-data-capture →
    dimension-history shape: detect changes with LAG, number runs with
    a cumulative change count, aggregate per run. One user-keyed
    window + one aggregation — partitions by user, never global."""
    ev = load_events(spark, sf_dir).selectExpr(
        "user_id", "event_type AS attr", "ts", "event_id"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        ev.withColumn("prev", F.lag("attr").over(w))
        .withColumn(
            "chg",
            (F.col("prev").isNull() | (F.col("attr") != F.col("prev"))).cast("long"),
        )
        .withColumn("run_id", F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ))
    )
    per_run = runs.groupBy("user_id", "run_id", "attr").agg(
        F.min("ts").alias("valid_from_ns"),
        F.count("*").cast("long").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("run_id")
    return per_run.withColumn(
        "valid_to_ns", F.lead("valid_from_ns").over(w2)
    ).select(
        "user_id", "run_id", "attr", "valid_from_ns", "valid_to_ns", "n_events"
    )


SQL_SCD2_INTERVALS = """
WITH ev AS (
  SELECT user_id, event_type AS attr, epoch_ns(ts) AS ns, event_id FROM events
),
runs AS (
  SELECT user_id, attr, ns,
    SUM(CASE WHEN prev IS NULL OR attr <> prev THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ns, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM (
    SELECT user_id, attr, ns, event_id,
      LAG(attr) OVER (PARTITION BY user_id ORDER BY ns, event_id) AS prev
    FROM ev
  )
),
per_run AS (
  SELECT user_id, CAST(run_id AS BIGINT) AS run_id, attr,
    MIN(ns) AS valid_from_ns, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM runs GROUP BY 1, 2, 3
)
SELECT user_id, run_id, attr, valid_from_ns,
  LEAD(valid_from_ns) OVER (PARTITION BY user_id ORDER BY run_id)
    AS valid_to_ns,
  n_events
FROM per_run
"""


_BAND_MS = 60_000  # time-proximity window: |t_click - t_error| <= 60 s


def q_interval_join_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-proximity join WITHOUT an equi key: every (error, click)
    pair within ±60 s, corpus-wide — the "what happened around each
    incident" correlation hunt. The naive plan is a cartesian product
    with a range filter; the scale form BANDS time into window-width
    buckets: each error explodes to its bucket ±1, clicks keep their
    own bucket, and the range condition becomes an EQUI-join on the
    bucket plus an exact |Δt| filter. A pair can only meet in the
    click's own bucket, so no dedup pass is needed. One shuffle on a
    dense integer key instead of |A|x|B| comparisons — the same
    banding that makes the stream-stream interval join's state
    bounded, applied to the batch plan. ``tests/test_plan_audit``-class
    check: zero CartesianProduct (asserted for the whole registry).
    The oracle states the range condition directly (DuckDB's IEJoin
    handles non-equi)."""
    ev = load_events(spark, sf_dir).selectExpr(
        "event_id", "event_type", "(ts div 1000000) AS tms"
    )
    err = ev.filter(F.col("event_type") == "error").selectExpr(
        "event_id AS error_id", "tms AS ets",
        f"explode(sequence(tms div {_BAND_MS} - 1, tms div {_BAND_MS} + 1))"
        " AS bucket",
    )
    clk = ev.filter(F.col("event_type") == "click").selectExpr(
        "event_id AS click_id", "tms AS cts",
        f"tms div {_BAND_MS} AS bucket",
    )
    return (
        err.join(clk, "bucket")
        .filter(F.expr(f"abs(cts - ets) <= {_BAND_MS}"))
        .selectExpr("error_id", "click_id", "cts - ets AS delta_ms")
    )


SQL_INTERVAL_JOIN_BANDED = f"""
WITH ev AS (
  SELECT event_id, event_type, epoch_ns(ts) // 1000000 AS tms FROM events
)
SELECT e.event_id AS error_id, c.event_id AS click_id,
  c.tms - e.tms AS delta_ms
FROM ev e JOIN ev c
  ON e.event_type = 'error' AND c.event_type = 'click'
 AND abs(c.tms - e.tms) <= {_BAND_MS}
"""


_WF_NS = 24 * 3600 * 1_000_000_000  # windowFunnel horizon: 24 h


def q_funnel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-BOUNDED funnel (ClickHouse ``windowFunnel`` semantics): the
    chain view → click → purchase must complete within 24 h of the
    view, and the funnel may start at ANY view (an earliest-start
    greedy misses funnels that only complete from a later attempt).
    Per start, taking
    the EARLIEST valid next step is exchange-argument optimal (it can
    only leave more room for the remaining steps), so two
    min-aggregated within-user joins compute the exact max depth.
    Output: depth histogram over ALL users (depth 0 = never viewed)
    plus the exact share as one display division.

    Scale shape: all joins are user_id equi-joins with range predicates
    (within-user fan-out is per-user event counts); aggregates collapse
    per (user, start) immediately. No window functions at all.
    """
    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts")
    s1 = ev.filter(F.col("event_type") == "view").selectExpr(
        "user_id", "ts AS t1"
    )
    clicks = ev.filter(F.col("event_type") == "click").selectExpr(
        "user_id", "ts AS tc"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").selectExpr(
        "user_id", "ts AS tp"
    )
    s2 = (
        s1.join(clicks, "user_id")
        .filter(
            (F.col("tc") > F.col("t1"))
            & (F.col("tc") <= F.col("t1") + F.lit(_WF_NS))
        )
        .groupBy("user_id", "t1")
        .agg(F.min("tc").alias("t2"))
    )
    s3 = (
        s2.join(purchases, "user_id")
        .filter(
            (F.col("tp") > F.col("t2"))
            & (F.col("tp") <= F.col("t1") + F.lit(_WF_NS))
        )
        .groupBy("user_id", "t1")
        .agg(F.min("tp").alias("t3"))
    )
    depth = (
        s1.join(s2, ["user_id", "t1"], "left")
        .join(s3, ["user_id", "t1"], "left")
        .selectExpr(
            "user_id",
            "1 + CAST(t2 IS NOT NULL AS INT)"
            " + CAST(t3 IS NOT NULL AS INT) AS d",
        )
        .groupBy("user_id")
        .agg(F.max("d").alias("depth"))
    )
    users = ev.select("user_id").distinct()
    per_user = users.join(depth, "user_id", "left").selectExpr(
        "user_id", "coalesce(depth, 0) AS depth"
    )
    hist = per_user.groupBy("depth").agg(
        F.count("*").cast("long").alias("n_users")
    )
    total = hist.agg(F.sum("n_users").alias("n_total"))
    return hist.crossJoin(F.broadcast(total)).selectExpr(
        "CAST(depth AS BIGINT) AS depth",
        "n_users",
        "CAST(n_total AS BIGINT) AS n_total",
        "CAST(n_users AS DOUBLE) / CAST(n_total AS DOUBLE) AS share",
    )


SQL_FUNNEL_WINDOW = f"""
WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) AS ns FROM events),
s1 AS (SELECT user_id, ns AS t1 FROM ev WHERE event_type = 'view'),
s2 AS (
  SELECT s1.user_id, s1.t1, MIN(c.ns) AS t2
  FROM s1 JOIN ev c ON c.user_id = s1.user_id AND c.event_type = 'click'
    AND c.ns > s1.t1 AND c.ns <= s1.t1 + {_WF_NS}
  GROUP BY 1, 2
),
s3 AS (
  SELECT s2.user_id, s2.t1, MIN(p.ns) AS t3
  FROM s2 JOIN ev p ON p.user_id = s2.user_id AND p.event_type = 'purchase'
    AND p.ns > s2.t2 AND p.ns <= s2.t1 + {_WF_NS}
  GROUP BY 1, 2
),
depth AS (
  SELECT s1.user_id,
    MAX(1 + CAST(s2.t1 IS NOT NULL AS INT)
      + CAST(s3.t1 IS NOT NULL AS INT)) AS depth
  FROM s1
  LEFT JOIN s2 ON s2.user_id = s1.user_id AND s2.t1 = s1.t1
  LEFT JOIN s3 ON s3.user_id = s1.user_id AND s3.t1 = s1.t1
  GROUP BY 1
),
per_user AS (
  SELECT u.user_id, COALESCE(d.depth, 0) AS depth
  FROM (SELECT DISTINCT user_id FROM ev) u
  LEFT JOIN depth d USING (user_id)
),
hist AS (
  SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM per_user GROUP BY 1
)
SELECT CAST(depth AS BIGINT) AS depth, n_users,
  CAST(t.n_total AS BIGINT) AS n_total,
  CAST(n_users AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS share
FROM hist, (SELECT SUM(n_users) AS n_total FROM hist) t
"""


def register_all() -> None:
    register("rel_scd2_intervals", q_scd2_intervals, SQL_SCD2_INTERVALS)
    register(
        "rel_interval_join_banded",
        q_interval_join_banded,
        SQL_INTERVAL_JOIN_BANDED,
    )
    register("rel_funnel_window", q_funnel_window, SQL_FUNNEL_WINDOW)
    register("rel_retention_cohorts", q_retention_cohorts, SQL_RETENTION_COHORTS)
