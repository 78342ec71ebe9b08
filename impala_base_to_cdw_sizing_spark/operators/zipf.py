"""Zipf-law fit over the shingle vocabulary (late r8).

``text_zipf_fit`` — corpus-linguistics profiling: fit
``ln(freq) = slope · ln(rank) + intercept`` by exact-sufficient-stats
OLS over the top-100 shingle types and report the Zipf exponent
(-slope) and r². Composition of three house patterns:

- top-100 by (freq desc, shingle asc) is ORDER BY + LIMIT —
  TakeOrderedAndProject (per-partition heaps), never a global sort;
- ranks come from a triangular better-than count over the 100-row
  broadcast frame (the carry-join pattern) — ZERO partition-less
  windows, so the registry-wide guard holds;
- ln() is the det-ln composition (curation's 16-sqrt + atanh series,
  micro-quantized), and the OLS sums are exact BIGINTs:
  |x_micro| ≤ ln(10^7)·10^6 ≈ 1.6·10^7, so n·Σxy and Σx·Σy stay under
  2^63 at n = 100. Slope/intercept/r² are the only doubles; the r²
  quotient uses the exact BIGINT differences cast to double (same
  correctly-rounded cast in both engines).

Shingles, not whitespace tokens: the synthetic word vocabulary is ~30
near-uniform types (a flat line, no law to fit), while the 3-gram
type space is ~10⁴ with real frequency decay from the injected
near-duplicate clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .curation import _DET_LN_W, _DET_LN_Y, _DET_LN_Z, _DET_LN_Z2
from .queries_ext import register
from .text import DUCK_SHINGLES, DUCK_TOKENS, SPARK_SHINGLES, SPARK_TOKENS, _docs

_TOP = 100


def _det_ln_micro(df: DataFrame, src: str, out: str) -> DataFrame:
    keep = [c for c in df.columns if c != src]
    return (
        df.selectExpr(*keep, f"CAST({src} AS DOUBLE) AS ratio")
        .selectExpr(*keep, f"{_DET_LN_Y} AS y")
        .selectExpr(*keep, f"{_DET_LN_Z} AS z")
        .selectExpr(*keep, "z", f"{_DET_LN_Z2} AS z2")
        .selectExpr(*keep, f"{_DET_LN_W} AS {out}")
    )


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    freqs = (
        _docs(spark, sf_dir)
        .withColumn("tokens", F.expr(SPARK_TOKENS))
        .selectExpr(f"explode({SPARK_SHINGLES}) AS shingle")
        .groupBy("shingle")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    top = freqs.orderBy(
        F.col("freq").desc(), F.col("shingle").asc()
    ).limit(_TOP).localCheckpoint()  # read by both triangular sides
    a, b = top.alias("a"), top.alias("b")
    better = (
        a.join(
            F.broadcast(b),
            (F.col("b.freq") > F.col("a.freq"))
            | (
                (F.col("b.freq") == F.col("a.freq"))
                & (F.col("b.shingle") < F.col("a.shingle"))
            ),
            "left",
        )
        .groupBy(F.col("a.shingle").alias("shingle"), F.col("a.freq").alias("freq"))
        .agg((F.count(F.col("b.shingle")) + 1).cast("long").alias("rank"))
    )
    pts = _det_ln_micro(
        _det_ln_micro(better, "rank", "x_micro"), "freq", "y_micro"
    )
    sums = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x_micro").cast("long").alias("sx"),
        F.sum("y_micro").cast("long").alias("sy"),
        F.sum(F.expr("x_micro * y_micro")).cast("long").alias("sxy"),
        F.sum(F.expr("x_micro * x_micro")).cast("long").alias("sxx"),
        F.sum(F.expr("y_micro * y_micro")).cast("long").alias("syy"),
    )
    return sums.selectExpr(
        "n",
        "CAST(n * sxy - sx * sy AS DOUBLE)"
        " / CAST(n * sxx - sx * sx AS DOUBLE) AS slope",
        "(CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)"
        " / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " / CAST(n AS DOUBLE) / 1000000.0 AS intercept_ln",
        "CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)"
        " / (CAST(n * sxx - sx * sx AS DOUBLE)"
        " * CAST(n * syy - sy * sy AS DOUBLE)) AS r2",
    )


def _zipf_sql() -> str:
    def det_ln(src: str, keep: str, out: str) -> str:
        return f"""(
    SELECT {keep}, {_DET_LN_W} AS {out} FROM (
      SELECT {keep}, z, {_DET_LN_Z2} AS z2 FROM (
        SELECT {keep}, {_DET_LN_Z} AS z FROM (
          SELECT {keep}, {_DET_LN_Y} AS y FROM (
            SELECT {keep}, CAST({src} AS DOUBLE) AS ratio FROM __SRC__
          )
        )
      )
    )
  )"""

    x_cte = det_ln("rank", "shingle, freq, rank", "x_micro").replace(
        "__SRC__", "ranked"
    )
    y_cte = det_ln("freq", "shingle, x_micro", "y_micro").replace(
        "__SRC__", "xs"
    )
    return f"""
WITH freqs AS (
  SELECT shingle, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (
    SELECT unnest({DUCK_SHINGLES}) AS shingle
    FROM (SELECT {DUCK_TOKENS} AS tokens FROM documents)
  ) GROUP BY 1
),
top AS (
  SELECT shingle, freq FROM freqs
  ORDER BY freq DESC, shingle ASC LIMIT {_TOP}
),
ranked AS (
  SELECT a.shingle, a.freq,
    CAST(COUNT(b.shingle) + 1 AS BIGINT) AS rank
  FROM top a LEFT JOIN top b
    ON b.freq > a.freq OR (b.freq = a.freq AND b.shingle < a.shingle)
  GROUP BY 1, 2
),
xs AS {x_cte},
ys AS {y_cte},
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(x_micro) AS BIGINT) AS sx,
    CAST(SUM(y_micro) AS BIGINT) AS sy,
    CAST(SUM(x_micro * y_micro) AS BIGINT) AS sxy,
    CAST(SUM(x_micro * x_micro) AS BIGINT) AS sxx,
    CAST(SUM(y_micro * y_micro) AS BIGINT) AS syy
  FROM ys
)
SELECT n,
  CAST(n * sxy - sx * sy AS DOUBLE)
    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
  (CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
    / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
    / CAST(n AS DOUBLE) / 1000000.0 AS intercept_ln,
  CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
    / (CAST(n * sxx - sx * sx AS DOUBLE)
    * CAST(n * syy - sy * sy AS DOUBLE)) AS r2
FROM sums
"""


def register_all() -> None:
    register("text_zipf_fit", q_zipf_fit, _zipf_sql())
