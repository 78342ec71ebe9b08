"""Event-sequence modeling operators (late r8).

``rel_markov_transitions`` — the first-order Markov transition matrix
over per-user event streams: for every user, order events by
(ts, event_id) and pair each event_type with its successor (LEAD over a
user-partitioned window — never a global sort); count transitions per
(src, dst), and emit the row-normalized transition probability plus an
``is_top_for_src`` argmax flag (count desc, dst asc tiebreak — the
deterministic-tie convention of ``sizing_argmax``).

This is the sequence-model companion to the funnel tier
(`funnels.q_funnel_steps` counts fixed paths; the transition matrix is
the full empirical kernel those paths are drawn from) and the standard
first step of session modeling / next-event prediction over clickstream
data.

Scale shape: the LEAD window partitions by user_id (co-partitioned with
the shuffle the groupBy needs anyway); the transition matrix itself is
alphabet² rows — constant size at any event volume. Probabilities are
one double division of two exact BIGINTs (bit-equal cross-engine); no
floats anywhere else.

Reference parity note: the reference (impala_query_sizing.py) has no
sequence operators — this extends the engine along the
training-data-pipeline axis (clickstream/session modeling) the builder
brief asks for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries_ext import register
from .relational import _GAP_NS
from ..sources.files import load_events


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15: the pipeline head is the w_seq window's partitionBy shuffle —
    # a fan exchange before it only adds a second shuffle of the same
    # raw rows, so the scan is read unfanned (0.78 -> 0.60 s at sf0.1)
    from ..sources.files import ROWS_PER_TASK_COLLAPSING

    ev = load_events(spark, sf_dir, ROWS_PER_TASK_COLLAPSING).select(
        "user_id", "ts", "event_id", "event_type"
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.withColumn("dst", F.lead("event_type").over(w_seq))
        .filter(F.col("dst").isNotNull())
        .selectExpr("event_type AS src", "dst")
    )
    trans = steps.groupBy("src", "dst").agg(
        F.count("*").cast("long").alias("n_trans")
    )
    totals = trans.groupBy("src").agg(F.sum("n_trans").alias("n_src_total"))
    w_top = Window.partitionBy("src").orderBy(
        F.col("n_trans").desc(), F.col("dst").asc()
    )
    return (
        trans.join(totals, "src")
        .withColumn("top_rk", F.row_number().over(w_top))
        .selectExpr(
            "src",
            "dst",
            "n_trans",
            "CAST(n_src_total AS BIGINT) AS n_src_total",
            "CAST(n_trans AS DOUBLE) / CAST(n_src_total AS DOUBLE) AS p_trans",
            "top_rk = 1 AS is_top_for_src",
        )
    )


SQL_MARKOV_TRANSITIONS = """
WITH steps AS (
  SELECT event_type AS src,
    LEAD(event_type) OVER (
      PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
),
trans AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n_trans
  FROM steps WHERE dst IS NOT NULL GROUP BY 1, 2
),
totals AS (
  SELECT src, CAST(SUM(n_trans) AS BIGINT) AS n_src_total
  FROM trans GROUP BY 1
)
SELECT src, dst, n_trans, n_src_total,
  CAST(n_trans AS DOUBLE) / CAST(n_src_total AS DOUBLE) AS p_trans,
  ROW_NUMBER() OVER (
    PARTITION BY src ORDER BY n_trans DESC, dst ASC) = 1 AS is_top_for_src
FROM trans JOIN totals USING (src)
"""


_EWMA_LAGS = 16  # truncation horizon: weight 2^-(j+1) is < 0.002% past j=15


def q_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated EWMA (α = 1/2) over per-type hourly event counts —
    the smoothing baseline the anomaly tier (`rel_hourly_spikes_mad`,
    `rel_seasonal_residuals`, `rel_changepoint_cusum`) deliberately
    does not provide: a recency-weighted level estimate per hour.

    EWMA is a *recursion* (ewma_t = α·x_t + (1−α)·ewma_{t−1}) — the
    classic "can't express in one window" shape, because frame
    aggregates can't weight by distance. The scale-safe rewrite:
    truncate the geometric tail at 16 lags (residual mass 2^-16) and
    renormalize over what remains: weights are the exact integers
    2^(15−j) for lag j, and the divisor is the sum of weights of the
    lags actually observed — so truncation and hour-gaps both shift
    weight instead of silently decaying toward zero. Each hourly count
    then contributes to ≤16 target hours — a bounded explode +
    partial-agg groupBy, no window at all, no recursion, and gaps in
    the hour sequence renormalize instead of silently decaying.

    num and den stay exact BIGINTs (max count · 2^15 · 16 lags ≪ 2^63);
    the EWMA is one double division — bit-equal cross-engine.
    """
    ev = load_events(spark, sf_dir).selectExpr(
        "event_type", "CAST(ts DIV 3600000000000 AS BIGINT) AS hr"
    )
    hourly = ev.groupBy("event_type", "hr").agg(
        F.count("*").cast("long").alias("n_events")
    )
    contrib = hourly.selectExpr(
        "event_type",
        "hr AS src_hr",
        "n_events",
        f"explode(sequence(0, {_EWMA_LAGS - 1})) AS lag",
    ).selectExpr(
        "event_type",
        "src_hr + lag AS hr",
        f"n_events * shiftleft(CAST(1 AS BIGINT), {_EWMA_LAGS - 1} - lag) AS wx",
        f"shiftleft(CAST(1 AS BIGINT), {_EWMA_LAGS - 1} - lag) AS w",
    )
    sums = contrib.groupBy("event_type", "hr").agg(
        F.sum("wx").cast("long").alias("num"),
        F.sum("w").cast("long").alias("den"),
    )
    return hourly.join(sums, ["event_type", "hr"]).selectExpr(
        "event_type",
        "hr",
        "n_events",
        "num",
        "den",
        "CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS ewma",
    )


def q_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact CUMULATIVE distinct users per (event_type, day) — growth
    accounting's "total audience to date". The naive plan carries a
    running distinct-set (state = all users seen, re-deduped per day:
    the shape that cannot distribute); the scale-safe identity is
    FIRST-TOUCH: cumulative-distinct(d) = |{users whose first day ≤ d}|
    — one groupBy for per-user first day, one count per (type, day),
    and a prefix sum over the tiny (types × days) frame, done as the
    repo's triangular carry join (SURVEY §4.3.2) rather than a
    partition-less window. State never exceeds types × days rows; the
    user-level work is two partial-agg shuffles.

    ``n_active`` (that day's distinct) and ``n_new`` (first-touch
    count) ride along, so the output exposes the new-vs-returning
    split retention dashboards plot."""
    ev = load_events(spark, sf_dir).selectExpr(
        "event_type", "user_id", "CAST(ts DIV 86400000000000 AS BIGINT) AS day"
    )
    active = ev.groupBy("event_type", "day").agg(
        F.countDistinct("user_id").cast("long").alias("n_active")
    )
    first_touch = ev.groupBy("event_type", "user_id").agg(
        F.min("day").alias("first_day")
    )
    news = first_touch.groupBy("event_type", F.col("first_day").alias("day")).agg(
        F.count("*").cast("long").alias("n_new")
    )
    # triangular carry over the (types × days)-sized frame: every
    # observed day sums the n_new of days ≤ it within its type — a
    # broadcastable self-join, never a partition-less window
    days = active.select("event_type", "day")
    cum = (
        days.alias("d")
        .join(
            news.alias("n"),
            (F.col("d.event_type") == F.col("n.event_type"))
            & (F.col("n.day") <= F.col("d.day")),
        )
        .groupBy(F.col("d.event_type").alias("event_type"), F.col("d.day").alias("day"))
        .agg(F.sum("n.n_new").cast("long").alias("cum_distinct"))
    )
    return (
        active.join(news, ["event_type", "day"], "left")
        .join(cum, ["event_type", "day"])
        .selectExpr(
            "event_type",
            "day",
            "n_active",
            "coalesce(n_new, CAST(0 AS BIGINT)) AS n_new",
            "cum_distinct",
        )
    )


def register_all() -> None:
    register(
        "rel_markov_transitions", q_markov_transitions, SQL_MARKOV_TRANSITIONS
    )
    # segmented (r9 skewed gate), gated by the sequential DuckDB oracle


def q_session_stats_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-LEVEL statistics — what ``rel_sessionize`` (per-user
    session counts) and the streaming form deliberately do not
    materialize: the distribution of session length and duration.
    Sessions are cut with the same shared 30-min gap rule
    (``relational._GAP_NS``) and aggregated to one row per session, then
    rolled up into a sessions-by-length histogram with exact duration
    stats (BIGINT ns sums; the avg is the single display division).

    Skew-proof (r9 skewed gate): flags AND session ids come from
    ``segmented.sessionize_flags(with_session_id=True)`` — per-(user,
    week-bucket) local windows plus a per-user carry over the tiny
    bucket summary, so a user holding 30% of the corpus spreads across
    buckets instead of serializing one task. The session-level rollup
    groups on session_id, so map-side combine absorbs even the hot
    user's giant sessions. Integer flag/rank arithmetic throughout makes
    it bit-equal to the per-user windows of the DuckDB oracle
    (``SQL_SESSION_STATS``)."""
    from .relational import _GAP_NS
    from .segmented import sessionize_flags

    ev = load_events(spark, sf_dir).select("user_id", "ts", "event_id")
    sessions = (
        sessionize_flags(ev, _GAP_NS, with_session_id=True)
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            (F.max("ts") - F.min("ts")).cast("long").alias("dur_ns"),
        )
    )
    return sessions.groupBy("n_events").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.min("dur_ns").cast("long").alias("min_dur_ns"),
        F.max("dur_ns").cast("long").alias("max_dur_ns"),
        F.sum("dur_ns").cast("long").alias("sum_dur_ns"),
    ).selectExpr(
        "n_events",
        "n_sessions",
        "min_dur_ns",
        "max_dur_ns",
        "sum_dur_ns",
        "CAST(sum_dur_ns AS DOUBLE) / CAST(n_sessions AS DOUBLE)"
        " AS avg_dur_ns",
    )


SQL_SESSION_STATS = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
    CAST(CASE WHEN prev_ns IS NULL OR ts - prev_ns > {_GAP_NS}
      THEN 1 ELSE 0 END AS BIGINT) AS new_session
  FROM (
    SELECT user_id, epoch_ns(ts) AS ts, event_id,
      LAG(epoch_ns(ts)) OVER w AS prev_ns
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
  )
),
sessions AS (
  SELECT user_id, session_id,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(MAX(ts) - MIN(ts) AS BIGINT) AS dur_ns
  FROM (
    SELECT user_id, ts,
      SUM(new_session) OVER (
        PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
      ) AS session_id
    FROM flagged
  )
  GROUP BY 1, 2
)
SELECT n_events, n_sessions, min_dur_ns, max_dur_ns, sum_dur_ns,
  CAST(sum_dur_ns AS DOUBLE) / CAST(n_sessions AS DOUBLE) AS avg_dur_ns
FROM (
  SELECT n_events, CAST(COUNT(*) AS BIGINT) AS n_sessions,
    CAST(MIN(dur_ns) AS BIGINT) AS min_dur_ns,
    CAST(MAX(dur_ns) AS BIGINT) AS max_dur_ns,
    CAST(SUM(dur_ns) AS BIGINT) AS sum_dur_ns
  FROM sessions GROUP BY 1
)
"""


# --- exact rolling median (late r9) ------------------------------------------

_MEDIAN_WINDOW_DAYS = 7


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 7-day rolling MEDIAN of daily event counts per event_type —
    the robust-smoothing window Spark has no built-in for (percentile
    window functions don't exist; approx_percentile isn't exact and
    can't window).

    The rewrite: RANGE window (6 preceding days .. current) collecting
    the BIGINT daily counts, sort the array, index the middle —
    odd-size picks the middle element, even-size averages the two
    middle ones. (a+b)/2.0 on 64-bit counts far below 2^52 is an exact
    IEEE operation, so the median is bit-equal to DuckDB's
    interpolated ``median()`` window aggregate.

    Scale shape: the window runs over the (event_type, day) AGGREGATE —
    one row per type per day, volume-bounded by the calendar, not the
    event count — and partitions by event_type; the data-sized work is
    the count group-by underneath, a plain shuffle agg. RANGE (not
    ROWS) framing means calendar gaps shrink the window instead of
    silently reaching further back in time.
    """
    daily = (
        load_events(spark, sf_dir)
        .selectExpr(
            "event_type", f"CAST(ts DIV {86_400_000_000_000} AS BIGINT) AS day"
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-(_MEDIAN_WINDOW_DAYS - 1), 0)
    )
    return (
        daily.withColumn("win", F.sort_array(F.collect_list("n_events").over(w)))
        .selectExpr(
            "event_type",
            "day",
            "n_events",
            "CAST(size(win) AS BIGINT) AS n_in_window",
            "CASE WHEN size(win) % 2 = 1"
            " THEN CAST(element_at(win, CAST((size(win) + 1) DIV 2 AS INT))"
            "   AS DOUBLE)"
            " ELSE (CAST(element_at(win, CAST(size(win) DIV 2 AS INT))"
            "   AS DOUBLE)"
            " + CAST(element_at(win, CAST(size(win) DIV 2 + 1 AS INT))"
            "   AS DOUBLE)) / 2.0 END AS rolling_median",
        )
    )


# --- lag-k autocorrelation (late r9) -----------------------------------------

_ACF_MAX_LAG = 12


def q_acf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..12 autocorrelation of the hourly total-event-count series —
    the seasonality detector (a daily cycle shows as structure across
    the first 24 lags).

    Exactness: the textbook ACF r_k = Σ(c_t−m)(c_{t+k}−m) / Σ(c_t−m)²
    subtracts a float mean everywhere; multiplying through by n² keeps
    it integral: with d_t = n·c_t − S (S = Σc, n = grid length, both
    exact BIGINTs), r_k = Σ d_t·d_{t+k} / Σ d_t². The products go
    through DECIMAL(19,0)×DECIMAL(19,0) → DECIMAL(38,0) (at 100 TB
    d_t ~ n·c_max can pass 2^31·2^31, so BIGINT products would wrap;
    the Gini/Lorenz precedent), the sums stay DECIMAL(38,0), and the
    final ratio converts via the exact STRING route
    (:func:`aggregates.dec_to_double_sql`) before one correctly-rounded
    double division — bit-equal cross-engine at any magnitude.

    The hour grid is dense from min to max observed hour with absent
    hours as zero (generated, not assumed), so the series is a proper
    time grid. Scale shape: everything after the hourly count group-by
    operates on calendar-bounded frames (one row per hour); the lag
    join is a bounded explode (≤ {_ACF_MAX_LAG} rows per hour) joined
    back on the hour key.
    """
    hourly = (
        load_events(spark, sf_dir)
        .selectExpr(f"CAST(ts DIV {3_600_000_000_000} AS BIGINT) AS hr")
        .groupBy("hr")
        .agg(F.count("*").cast("long").alias("c"))
    )
    span = hourly.agg(
        F.min("hr").alias("hr_min"), F.max("hr").alias("hr_max")
    )
    grid = (
        span.selectExpr("explode(sequence(hr_min, hr_max)) AS hr")
        .join(hourly, "hr", "left")
        .selectExpr("hr", "CAST(coalesce(c, 0) AS BIGINT) AS c")
    )
    tot = grid.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
    )
    d = grid.crossJoin(F.broadcast(tot)).selectExpr(
        "hr", "CAST(n * c - s AS DECIMAL(19,0)) AS d", "n"
    )
    den = d.agg(F.sum(F.expr("d * d")).alias("den_dec"))
    lagged = (
        d.selectExpr(
            "hr",
            "d",
            f"explode(sequence(CAST(1 AS BIGINT), CAST({_ACF_MAX_LAG} AS"
            " BIGINT))) AS lag",
        )
        .selectExpr("hr + lag AS hr", "lag", "d AS d_lag")
        .join(d.select("hr", "d"), "hr")
        .groupBy("lag")
        .agg(
            F.sum(F.expr("d * d_lag")).alias("num_dec"),
            F.count("*").cast("long").alias("n_pairs"),
        )
    )
    return (
        lagged.crossJoin(F.broadcast(den))
        .selectExpr(
            "lag",
            "n_pairs",
            "CAST(CAST(num_dec AS STRING) AS DOUBLE)"
            " / CAST(CAST(den_dec AS STRING) AS DOUBLE) AS r_acf",
        )
        .orderBy("lag")
    )
