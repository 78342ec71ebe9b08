"""As-of (merge-asof) join — an operator Spark lacks natively
(SURVEY.md §2.J joins row; guide's "as-of / range join" pattern).

Implementation is the scalable union+window form, NOT ``pd.merge_asof``
in a Pandas UDF: tag both sides, union, sort per key by (time, side),
and carry the most recent right-side value forward with
``last(..., ignorenulls=True)``. One shuffle on the key, ordered windows
per key — at 100 TB this is a standard repartition-by-key plan with no
skew beyond the key distribution (salt hot keys if needed).

The demo query pairs each ``purchase`` event with the most recent
preceding ``view`` event of the same user (backward as-of, strict or
inclusive).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries_ext import register


def merge_asof(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    right_cols: list[str],
    direction: str = "backward",
    tiebreak: str | None = None,
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right.on <= left.on`` within the same ``by`` group (backward as-of).

    ``right_cols`` are carried from the right side (renamed ``asof_<c>``).
    Ties on ``on`` across sides resolve right-before-left (inclusive
    semantics, like ``pd.merge_asof(allow_exact_matches=True)``).

    ``direction="forward"`` attaches the EARLIEST right row with
    ``right.on >= left.on`` instead: the same union+window plan scanned
    in descending time order (carrying the last right seen while walking
    backward = the nearest future right). Identical shuffle profile.
    """
    assert direction in ("backward", "forward")
    lt = left.withColumn("_side", F.lit(1))
    rt = right.withColumn("_side", F.lit(0))
    all_cols = set(lt.columns) | set(rt.columns)
    lt = lt.select(
        *[
            F.col(c) if c in lt.columns else F.lit(None).alias(c)
            for c in sorted(all_cols)
        ]
    )
    rt = rt.select(
        *[
            F.col(c) if c in rt.columns else F.lit(None).alias(c)
            for c in sorted(all_cols)
        ]
    )
    unioned = lt.unionByName(rt)
    # right rows (side 0) sort before left rows at equal timestamps →
    # inclusive matches; strict would order left first. ``tiebreak`` (a
    # unique column present on both sides) totalizes the order so ties
    # among right rows resolve deterministically. Forward reverses the
    # time order (and the tiebreak, so equal-time rights resolve to the
    # smallest tiebreak — the "first" future row).
    if direction == "backward":
        order = [F.col(on).asc(), F.col("_side").asc()]
        if tiebreak:
            order.append(F.col(tiebreak).asc())
    else:
        order = [F.col(on).desc(), F.col("_side").asc()]
        if tiebreak:
            order.append(F.col(tiebreak).desc())
    w = (
        Window.partitionBy(by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.withColumns(
        {
            f"asof_{c}": F.last(
                F.when(F.col("_side") == 0, F.col(c)), ignorenulls=True
            ).over(w)
            for c in right_cols
        }
    )
    return carried.filter(F.col("_side") == 1).drop("_side", *right_cols)


def q_asof_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase event ← most recent preceding view by the same user."""
    from ..sources.files import load_events

    ev = load_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
        F.col("event_id").alias("eid"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("pts"),  # shared 'on' column name
        F.col("value").alias("view_value"),
        F.col("event_id").alias("eid"),
    )
    out = merge_asof(
        purchases, views, on="pts", by="user_id",
        right_cols=["view_id", "view_value"], tiebreak="eid",
    )
    return out.select(
        "user_id", "purchase_id",
        F.col("asof_view_id").alias("view_id"),
        F.col("asof_view_value").alias("view_value"),
    )


SQL_ASOF = """
WITH tagged AS (
  SELECT user_id, event_id, epoch_ns(ts) AS tns, value, 1 AS side
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, event_id, epoch_ns(ts) AS tns, value, 0 AS side
  FROM events WHERE event_type = 'view'
),
carried AS (
  SELECT user_id, event_id, side,
    LAST_VALUE(CASE WHEN side = 0 THEN event_id END IGNORE NULLS) OVER w AS view_id,
    LAST_VALUE(CASE WHEN side = 0 THEN value END IGNORE NULLS) OVER w AS view_value
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY tns ASC, side ASC, event_id ASC
               ROWS UNBOUNDED PRECEDING)
)
SELECT user_id, event_id AS purchase_id, view_id, view_value
FROM carried WHERE side = 1
"""


def q_asof_view_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase event → the FIRST view at-or-after it by the same
    user (forward as-of) — the follow-up/attribution direction."""
    from ..sources.files import load_events

    ev = load_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
        F.col("event_id").alias("eid"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("pts"),
        F.col("value").alias("view_value"),
        F.col("event_id").alias("eid"),
    )
    out = merge_asof(
        purchases, views, on="pts", by="user_id",
        right_cols=["view_id", "view_value"], direction="forward",
        tiebreak="eid",
    )
    return out.select(
        "user_id", "purchase_id",
        F.col("asof_view_id").alias("view_id"),
        F.col("asof_view_value").alias("view_value"),
    )


SQL_ASOF_FORWARD = """
WITH tagged AS (
  SELECT user_id, event_id, epoch_ns(ts) AS tns, value, 1 AS side
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, event_id, epoch_ns(ts) AS tns, value, 0 AS side
  FROM events WHERE event_type = 'view'
),
carried AS (
  SELECT user_id, event_id, side,
    LAST_VALUE(CASE WHEN side = 0 THEN event_id END IGNORE NULLS) OVER w AS view_id,
    LAST_VALUE(CASE WHEN side = 0 THEN value END IGNORE NULLS) OVER w AS view_value
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY tns DESC, side ASC, event_id DESC
               ROWS UNBOUNDED PRECEDING)
)
SELECT user_id, event_id AS purchase_id, view_id, view_value
FROM carried WHERE side = 1
"""


def register_all() -> None:
    register("asof_view_before_purchase", q_asof_view_before_purchase, SQL_ASOF)

    register(
        "asof_view_after_purchase", q_asof_view_after_purchase, SQL_ASOF_FORWARD
    )
