"""Event-sequence analytics over ``events`` — funnel conversion and
retention cohorts, the two workhorse product-analytics queries a
warehouse engine is expected to answer (and the reference's event
stream makes natural).

- ``rel_funnel_steps``: ordered view → click → purchase conversion per
  user. Each stage is the earliest qualifying event STRICTLY after the
  previous stage's timestamp — the order-sensitive definition (a
  purchase before your first view does not convert), which is what
  separates a funnel from three independent existence checks.
- ``rel_retention_cohorts``: weekly cohort retention — users grouped
  by first-seen week, counted in each subsequent week they were
  active. The (cohort, offset, n_users) long form is the standard
  retention triangle.

Determinism: all timestamps are exact epoch-nanos integers
(``load_events`` normalization / DuckDB ``epoch_ns``), week ids are
integer floor-divisions, and stage timestamps are MINs — no floats
anywhere.

Scale: the funnel is three user-keyed aggregations chained by
broadcast-joinable per-user scalars (each stage's frame is one row per
user — far smaller than the event table); retention is two
aggregations (first-seen, distinct user-week) and one join keyed on
user_id. No windows, no self-join of the raw event table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.files import load_events
from .queries_ext import register

_WEEK_NS = 7 * 24 * 3600 * 1_000_000_000


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, view_ns, click_ns, purchase_ns, stage_reached): the
    strictly-ordered 3-step funnel; later stages are NULL when the
    funnel stalls, stage_reached counts completed steps."""
    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ns"))
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .join(views, "user_id")
        .filter(F.col("ts") > F.col("view_ns"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ns"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(F.col("ts") > F.col("click_ns"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ns"))
    )
    users = ev.select("user_id").distinct()
    return (
        users.join(views, "user_id", "left")
        .join(clicks, "user_id", "left")
        .join(purchases, "user_id", "left")
        .selectExpr(
            "user_id", "view_ns", "click_ns", "purchase_ns",
            "CAST((view_ns IS NOT NULL) AS INT) + CAST((click_ns IS NOT NULL) AS INT)"
            " + CAST((purchase_ns IS NOT NULL) AS INT) AS stage_reached",
        )
    )


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


# --- hourly spike detection -------------------------------------------------------

_SPIKE_NUM, _SPIKE_DEN = 3, 2  # spike = count > 1.5x the hourly mean


def q_hourly_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(hour_ms, event_type, n, is_spike): hours whose per-type event
    count exceeds 1.5x that type's hourly mean — the drift/incident
    flag an ingestion pipeline watches. The threshold comparison is
    cross-multiplied into pure integers (n * n_hours * DEN > total *
    NUM), so there is no float mean, no epsilon, and no rounding to
    diverge on; the mean's denominator counts only OBSERVED hours for
    that type (gap-fill first — rel_gapfill_hourly — to count silence
    against the mean instead)."""
    ev = load_events(spark, sf_dir).selectExpr(
        "event_type", "(ts div 1000000) div 3600000 * 3600000 AS hour_ms"
    )
    hourly = ev.groupBy("event_type", "hour_ms").agg(
        F.count("*").cast("long").alias("n")
    )
    per_type = hourly.groupBy("event_type").agg(
        F.sum("n").alias("total"), F.count("*").alias("n_hours")
    )
    return (
        hourly.join(F.broadcast(per_type), "event_type")
        .selectExpr(
            "hour_ms", "event_type", "n",
            f"n * n_hours * {_SPIKE_DEN} > total * {_SPIKE_NUM} AS is_spike",
        )
    )


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


def q_hourly_spikes_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust spike detection: flag hours where the per-type count
    exceeds ``median + 3 * MAD`` — the robust-statistics upgrade of
    ``rel_hourly_spikes``'s mean threshold. A real incident (one huge
    hour) inflates a mean enough to mask smaller spikes, but cannot
    move a median; MAD (median absolute deviation) is the matching
    robust spread. Both are LOWER medians picked by rank arithmetic
    (``rn = (cnt+1) div 2`` over a deterministic (value, hour) order),
    so every quantity stays an exact integer and the flag has no float,
    no epsilon, and no cross-engine hazard. Two windows per type over
    hour-count rows (thousands, not events) — negligible at any event
    volume."""
    from pyspark.sql import Window

    hourly = (
        load_events(spark, sf_dir)
        .selectExpr(
            "event_type",
            "(ts div 1000000) div 3600000 * 3600000 AS hour_ms",
        )
        .groupBy("event_type", "hour_ms")
        .agg(F.count("*").cast("long").alias("n"))
    )

    def lower_median(df: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(
            F.col(col).asc(), F.col("hour_ms").asc()
        )
        wall = Window.partitionBy("event_type")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .withColumn("cnt", F.count("*").over(wall))
            .filter(F.expr("rn = (cnt + 1) div 2"))
            .selectExpr("event_type", f"{col} AS {out}")
        )

    med = lower_median(hourly, "n", "med")
    dev = hourly.join(F.broadcast(med), "event_type").selectExpr(
        "event_type", "hour_ms", "abs(n - med) AS dev"
    )
    mad = lower_median(dev, "dev", "mad")
    return (
        hourly.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .selectExpr(
            "hour_ms", "event_type", "n", "med", "mad",
            "n > med + 3 * mad AS is_spike",
        )
    )


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


def q_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE the hourly rate shifted, per event_type — CUSUM changepoint
    localization, the complement of the spike detectors (a spike is one
    bad hour; a changepoint is a new regime). For counts x_1..x_T the
    cumulative deviation from a flat rate is ``C_k = sum_{i<=k} x_i -
    k*S/T``; the changepoint estimate is ``argmax_k |C_k|``. Scaling by
    T (``T*prefix - k*S``) keeps every quantity an exact BIGINT — no
    float mean, no epsilon, ties to the earliest hour. One ordered
    prefix-sum window per type over HOUR-COUNT rows (not events) + a
    1-row argmax window; both tiny at any event volume."""
    from pyspark.sql import Window

    hourly = (
        load_events(spark, sf_dir)
        .selectExpr(
            "event_type",
            "(ts div 1000000) div 3600000 * 3600000 AS hour_ms",
        )
        .groupBy("event_type", "hour_ms")
        .agg(F.count("*").cast("long").alias("n"))
    )
    word = Window.partitionBy("event_type").orderBy("hour_ms").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("event_type")
    word_rn = Window.partitionBy("event_type").orderBy("hour_ms")
    cusum = (
        hourly.withColumn("prefix", F.sum("n").over(word))
        .withColumn("k", F.row_number().over(word_rn).cast("long"))
        .withColumn("total", F.sum("n").over(wall))
        .withColumn("n_hours", F.count("*").over(wall))
        .selectExpr(
            "event_type", "hour_ms", "n_hours", "total",
            "n_hours * prefix - k * total AS c_scaled",
        )
    )
    warg = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("c_scaled")).desc(), F.col("hour_ms").asc()
    )
    return (
        cusum.withColumn("rn", F.row_number().over(warg))
        .filter(F.col("rn") == 1)
        .selectExpr(
            "event_type", "hour_ms AS cp_hour_ms",
            "abs(c_scaled) AS cusum_abs_scaled", "n_hours", "total",
        )
        .orderBy("event_type")
    )


def q_hourly_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear trend of the hourly rate — closed-form OLS with
    EXACT integer sufficient statistics. x is the hour index from each
    type's first hour (small integers), y the hourly count; n·Σxy−Σx·Σy
    and n·Σxx−Σx² are exact BIGINTs (hours and counts keep every
    product far under 2⁶³), so the slope is ONE correctly-rounded
    double division — bit-equal cross-engine, the det-ln philosophy
    applied to regression. The intercept reuses the slope with an
    identical expression tree on both engines. Two partial aggregates
    over hour-count rows; no window at all."""
    hourly = (
        load_events(spark, sf_dir)
        .selectExpr("event_type", "(ts div 1000000) div 3600000 AS hr")
        .groupBy("event_type", "hr")
        .agg(F.count("*").cast("long").alias("y"))
    )
    base = hourly.groupBy("event_type").agg(F.min("hr").alias("hr0"))
    xy = hourly.join(F.broadcast(base), "event_type").selectExpr(
        "event_type", "CAST(hr - hr0 AS BIGINT) AS x", "y"
    )
    sums = xy.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return sums.selectExpr(
        "event_type", "n_hours", "sx", "sy",
        "CASE WHEN n_hours * sxx - sx * sx = 0 THEN NULL"
        " ELSE CAST(n_hours * sxy - sx * sy AS DOUBLE)"
        " / CAST(n_hours * sxx - sx * sx AS DOUBLE) END AS slope",
    ).selectExpr(
        "event_type", "n_hours", "sy", "slope",
        "CAST(sy AS DOUBLE) / n_hours"
        " - slope * (CAST(sx AS DOUBLE) / n_hours) AS intercept",
    )


def q_seasonal_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection: baseline = per
    (event_type, hour-of-day) LOWER MEDIAN of the daily counts (exact
    rank arithmetic — no float), residual = count − its slot's
    baseline, flag cells where residual > 3 × the slot family's MAD.
    A recurring rush hour is BASELINE here, not an anomaly — the
    upgrade over rel_hourly_spikes_mad, whose single per-type median
    flags every busy-season hour. All medians are lower medians picked
    by ``rn = (cnt+1) div 2`` over deterministic orders; every quantity
    is an exact integer, so the flag carries no epsilon. Windows
    partition by (event_type, hod) — thousands of small partitions."""
    from pyspark.sql import Window

    cells = (
        load_events(spark, sf_dir)
        .selectExpr(
            "event_type",
            "(ts div 1000000) div 86400000 AS day",
            "((ts div 1000000) div 3600000) % 24 AS hod",
        )
        .groupBy("event_type", "day", "hod")
        .agg(F.count("*").cast("long").alias("n"))
    )

    def slot_lower_median(df: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type", "hod").orderBy(
            F.col(col).asc(), F.col("day").asc()
        )
        wall = Window.partitionBy("event_type", "hod")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .withColumn("cnt", F.count("*").over(wall))
            .filter(F.expr("rn = (cnt + 1) div 2"))
            .selectExpr("event_type", "hod", f"{col} AS {out}")
        )

    base = slot_lower_median(cells, "n", "baseline")
    resid = cells.join(F.broadcast(base), ["event_type", "hod"]).selectExpr(
        "event_type", "day", "hod", "n", "baseline",
        "n - baseline AS resid",
    )
    dev = resid.selectExpr("event_type", "hod", "day", "abs(resid) AS adev")
    mad = slot_lower_median(dev, "adev", "mad")
    return resid.join(F.broadcast(mad), ["event_type", "hod"]).selectExpr(
        "event_type", "day", "hod", "n", "baseline", "resid",
        "mad", "resid > 3 * mad AS is_anomaly",
    )


_WF_NS = 24 * 3600 * 1_000_000_000  # windowFunnel horizon: 24 h


def q_funnel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-BOUNDED funnel (ClickHouse ``windowFunnel`` semantics) —
    the piece ``rel_funnel_steps`` deliberately lacks: that operator
    chains from each user's EARLIEST view with no deadline; here the
    chain view → click → purchase must complete within 24 h of the
    view, and the funnel may start at ANY view (the earliest-start
    greedy misses funnels that only complete from a later attempt —
    at sf0.01 the two operators genuinely disagree). Per start, taking
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
