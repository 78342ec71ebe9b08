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


def register_all() -> None:
    register("rel_median_twopass", q_median_twopass, SQL_MEDIAN_TWOPASS)
