"""Event-sequence modeling operators (late r8).

``rel_markov_transitions`` — the first-order Markov transition matrix
over per-user event streams: for every user, order events by
(ts, event_id) and pair each event_type with its successor (LEAD over a
user-partitioned window — never a global sort); count transitions per
(src, dst), and emit the row-normalized transition probability plus an
``is_top_for_src`` argmax flag (count desc, dst asc tiebreak — the
deterministic-tie convention of ``sizing_argmax``).

This is the sequence-model companion to the funnel tier
(``rel_funnel_window`` counts one fixed path; the transition matrix is
the full empirical kernel such paths are drawn from) and the standard
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


def register_all() -> None:
    register(
        "rel_markov_transitions", q_markov_transitions, SQL_MARKOV_TRANSITIONS
    )
