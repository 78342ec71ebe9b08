"""Two-pass exact median selection — distributed order statistics
without a global sort.

``rel_exact_percentiles`` (olap_extra.py) is the buffering exact form:
Spark's ``percentile`` aggregator collects each group's values into
executor memory, which is fine per-group but cannot produce a GLOBAL
exact median of a 100 TB column. The classic scale answer is selection
by bucketing, two passes, bounded memory:

  pass 1  histogram: count rows per value bucket (a shuffle agg);
          cumulative counts over the tiny bucket frame locate which
          bucket holds each target rank and the rank's offset in it.
  pass 2  re-scan ONLY the target bucket(s) (a filter a real deployment
          pushes into the scan), rank within the bucket — a bounded
          window partition — and pick the offset row.

No node ever holds more than one bucket's values; the bucket frame is
value-range-bounded (hundreds of rows), never data-bounded. The
cumulative count below each bucket is :func:`segmented.bucket_carry` —
no partition-less window anywhere in the plan.

Exactness: values are exact integer cents (DECIMAL(12,2) · 100); the
two middle order statistics are BIGINTs, and the single final division
``(v_lo + v_hi) / 200.0`` is one correctly-rounded IEEE op — bit-equal
to the DuckDB oracle's sequential ROW_NUMBER selection, and equal to
PERCENTILE_CONT(0.5) by construction (odd n: k1 = k2 = the middle;
even n: the two middles averaged).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries_ext import register
from .segmented import bucket_carry
from ..sources.files import read_input

# $1000-wide buckets over l_extendedprice (~900..105k): ~110 buckets at
# any scale factor — the histogram width tracks the VALUE RANGE, so the
# pass-1 frame stays tiny while the data grows
_BUCKET_CENTS = 100_000


def q_median_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_input(spark, sf_dir, "lineitem")
    c = li.selectExpr(
        "CAST(l_extendedprice * 100 AS BIGINT) AS cents",
        f"CAST(CAST(l_extendedprice * 100 AS BIGINT) DIV {_BUCKET_CENTS}"
        " AS BIGINT) AS bucket",
    )
    tot = c.agg(F.count("*").cast("long").alias("n"))
    ks = tot.selectExpr(
        "n",
        "explode(array_distinct(array((n + 1) DIV 2, (n + 2) DIV 2))) AS k",
    )
    bcounts = c.groupBy("bucket").agg(F.count("*").cast("long").alias("bn"))
    cum = bucket_carry(bcounts, "bucket", ["bn"])
    targets = (
        ks.crossJoin(F.broadcast(cum))
        .filter("carry_bn < k AND k <= carry_bn + bn")
        .selectExpr("n", "k", "bucket", "k - carry_bn AS offset")
    )
    w = Window.partitionBy("bucket", "k").orderBy("cents")
    picked = (
        c.join(F.broadcast(targets), "bucket")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == F.col("offset"))
        .select("n", "k", "cents")
    )
    one = picked.groupBy("n").agg(
        F.min("k").cast("long").alias("k1"),
        F.max("k").cast("long").alias("k2"),
        F.min("cents").cast("long").alias("v_lo_cents"),
        F.max("cents").cast("long").alias("v_hi_cents"),
    )
    return one.selectExpr(
        "n",
        "k1",
        "k2",
        "v_lo_cents",
        "v_hi_cents",
        "CAST(v_lo_cents + v_hi_cents AS DOUBLE) / 200.0 AS median",
    )


SQL_MEDIAN_TWOPASS = """
WITH c AS (
  SELECT CAST(l_extendedprice * 100 AS BIGINT) AS cents FROM lineitem
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
ks AS (
  SELECT n, (n + 1) // 2 AS k1, (n + 2) // 2 AS k2 FROM tot
),
ranked AS (
  SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rk FROM c
)
SELECT ks.n, ks.k1, ks.k2,
  CAST(MIN(CASE WHEN rk = k1 THEN cents END) AS BIGINT) AS v_lo_cents,
  CAST(MAX(CASE WHEN rk = k2 THEN cents END) AS BIGINT) AS v_hi_cents,
  CAST(MIN(CASE WHEN rk = k1 THEN cents END)
     + MAX(CASE WHEN rk = k2 THEN cents END) AS DOUBLE) / 200.0 AS median
FROM ranked CROSS JOIN ks
WHERE rk = k1 OR rk = k2
GROUP BY 1, 2, 3
"""


# --- weighted median (late r9) ------------------------------------------------


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lower weighted median of l_extendedprice weighted by l_quantity —
    "the price level at or below which half the shipped VOLUME sits",
    the volume-weighted robust center a revenue profile wants. Same
    two-pass selection shape as :func:`q_median_twopass`, with weights:

      pass 1  per-bucket WEIGHT sums; the triangular carry locates the
              bucket where the cumulative weight crosses the threshold
              T = (W + 1) DIV 2 and the in-bucket weight offset.
      pass 2  rescan only that bucket; a running weight sum over the
              bounded bucket partition picks the first value whose
              cumulative weight reaches the offset.

    Weights are exact BIGINTs (TPC-H quantities are integral), the
    answer is an exact cents value, and ties in cents can only select
    the same value — deterministic output with no global sort and no
    value buffering."""
    li = read_input(spark, sf_dir, "lineitem")
    c = li.selectExpr(
        "CAST(l_extendedprice * 100 AS BIGINT) AS cents",
        "CAST(l_quantity AS BIGINT) AS w",
        f"CAST(CAST(l_extendedprice * 100 AS BIGINT) DIV {_BUCKET_CENTS}"
        " AS BIGINT) AS bucket",
    )
    tot = c.agg(F.sum("w").cast("long").alias("w_total")).selectExpr(
        "w_total", "(w_total + 1) DIV 2 AS threshold"
    )
    bweights = c.groupBy("bucket").agg(F.sum("w").cast("long").alias("bw"))
    cum = bucket_carry(bweights, "bucket", ["bw"])
    target = (
        cum.crossJoin(F.broadcast(tot))
        .filter("carry_bw < threshold AND threshold <= carry_bw + bw")
        .selectExpr("bucket", "w_total", "threshold",
                    "threshold - carry_bw AS offset")
    )
    w_run = (
        Window.partitionBy("bucket")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    picked = (
        c.join(F.broadcast(target), "bucket")
        .withColumn("cw", F.sum("w").over(w_run))
        .filter(F.col("cw") >= F.col("offset"))
    )
    return picked.groupBy("w_total", "threshold").agg(
        F.min("cents").cast("long").alias("median_cents")
    ).selectExpr(
        "w_total",
        "threshold",
        "median_cents",
        "CAST(median_cents AS DOUBLE) / 100.0 AS weighted_median",
    )


# --- grouped two-pass median (late r9) ---------------------------------------


def q_group_median_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact median (PERCENTILE_CONT(0.5) per l_returnflag) by
    the same two-pass bucket selection — the grouped proof that the
    pattern composes: every frame just carries the group key, the
    triangular carry runs per group, and pass 2's window partitions by
    (group, bucket, rank-target), all still bounded. This is the shape
    that replaces ``percentile``'s per-group value buffering when single
    groups are themselves huge (one group holding 30% of a 100 TB table
    is the skew-gate scenario)."""
    li = read_input(spark, sf_dir, "lineitem")
    c = li.selectExpr(
        "l_returnflag AS grp",
        "CAST(l_extendedprice * 100 AS BIGINT) AS cents",
        f"CAST(CAST(l_extendedprice * 100 AS BIGINT) DIV {_BUCKET_CENTS}"
        " AS BIGINT) AS bucket",
    )
    tot = c.groupBy("grp").agg(F.count("*").cast("long").alias("n"))
    ks = tot.selectExpr(
        "grp",
        "n",
        "explode(array_distinct(array((n + 1) DIV 2, (n + 2) DIV 2))) AS k",
    )
    bcounts = c.groupBy("grp", "bucket").agg(
        F.count("*").cast("long").alias("bn")
    )
    cum = bucket_carry(bcounts, "bucket", ["bn"], keys=["grp"])
    targets = (
        ks.join(F.broadcast(cum), "grp")
        .filter("carry_bn < k AND k <= carry_bn + bn")
        .selectExpr("grp", "n", "k", "bucket", "k - carry_bn AS offset")
    )
    w = Window.partitionBy("grp", "bucket", "k").orderBy("cents")
    picked = (
        c.join(F.broadcast(targets), ["grp", "bucket"])
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == F.col("offset"))
        .select("grp", "n", "k", "cents")
    )
    return (
        picked.groupBy("grp", "n")
        .agg(
            F.min("k").cast("long").alias("k1"),
            F.max("k").cast("long").alias("k2"),
            F.min("cents").cast("long").alias("v_lo_cents"),
            F.max("cents").cast("long").alias("v_hi_cents"),
        )
        .selectExpr(
            "grp",
            "n",
            "k1",
            "k2",
            "v_lo_cents",
            "v_hi_cents",
            "CAST(v_lo_cents + v_hi_cents AS DOUBLE) / 200.0 AS median",
        )
    )


def register_all() -> None:
    register("rel_median_twopass", q_median_twopass, SQL_MEDIAN_TWOPASS)
