"""Scalar-quantized (SQ8) similarity search — the third compression
point on the ANN curve.

The family so far: exact cosine (64 doubles/vec, the per-bucket
kernel), IVF (cell-routed exact), PQ (8 bytes/vec, 64x compression,
needs trained codebooks + an ADC pass). SQ8 is the industry-standard
middle point (Faiss ``SQ8``, Milvus/pgvector quantization): ONE uint8
code per dimension against per-dimension corpus min/max — 64 bytes/vec
(8x compression), no codebook training, and distances computed directly
on dequantized codes with plain arithmetic. When PQ's recall ceiling or
training cost is not worth it, SQ8 is what a production index actually
runs.

Determinism contract (the cross-engine rules from SCALE.md):
- train stats are per-dim MIN/MAX — order-independent exact doubles;
- codes are ``floor((x-lo)/rng*255 + 0.5)`` clamped to [0,255] — every
  step a correctly-rounded IEEE op on identical inputs, so the BIGINT
  codes are bit-identical in Spark and DuckDB;
- scoring dequantizes ``lo + code*rng/255`` (same expression text both
  dialects — same rounding) and folds dot products left in index order.

Scale: the stats table is DIM rows (broadcast); coding is one narrow
map over the corpus; search reads the 64-byte codes, not the raw
vectors, and ends in a per-query top-k window. The one shuffle is the
posexplode for min/max — partial-aggregated, DIM groups. At 100 TB the
codes column is the stored index (write it once, scan it per query
batch), and the exact re-rank runs on the top candidates only — the
``sim_pq_refine`` pattern composes unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries_ext import register
from .similarity import DIM, DUCK_DOT, DUCK_EMB, N_QUERIES, SPARK_DOT, TOP_K, _emb

# code = floor((x - lo) / rng * 255 + 0.5), constant dims code to 0
_SPARK_CODES = (
    "transform(v, (x, i) -> CASE WHEN element_at(rngs, i + 1) = 0.0"
    " THEN CAST(0 AS BIGINT)"
    " ELSE least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),"
    "  CAST(floor((x - element_at(los, i + 1)) / element_at(rngs, i + 1)"
    "   * 255.0 + 0.5) AS BIGINT))) END)"
)
_DUCK_CODES = (
    f"list_transform(range(1, {DIM} + 1), i -> CASE WHEN rngs[i] = 0.0"
    " THEN CAST(0 AS BIGINT)"
    " ELSE least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),"
    "  CAST(floor((v[i] - los[i]) / rngs[i] * 255.0 + 0.5) AS BIGINT))) END)"
)
# dequantize: identical expression text in both dialects → identical
# IEEE rounding sequence → identical doubles
_SPARK_DEQ = (
    "transform(codes, (cd, i) -> element_at(los, i + 1)"
    " + CAST(cd AS DOUBLE) * element_at(rngs, i + 1) / 255.0)"
)
_DUCK_DEQ = (
    f"list_transform(range(1, {DIM} + 1), i -> los[i]"
    " + CAST(codes[i] AS DOUBLE) * rngs[i] / 255.0)"
)


def _coded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, codes, deq, anorm2): the stored SQ8 index plus its
    dequantized view and self-dot, stats broadcast from DIM rows."""
    emb = _emb(spark, sf_dir)
    stats = (
        emb.selectExpr("posexplode(v) AS (pos, x)")
        .groupBy("pos")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, lo))),"
                " s -> s.lo) AS los"
            ),
            F.expr(
                "transform(array_sort(collect_list(struct(pos, hi, lo))),"
                " s -> s.hi - s.lo) AS rngs"
            ),
        )
    )
    return (
        emb.crossJoin(F.broadcast(stats))
        .selectExpr("vec_id", "los", "rngs", f"{_SPARK_CODES} AS codes")
        .selectExpr("vec_id", "codes", f"{_SPARK_DEQ} AS deq")
        .selectExpr(
            "vec_id", "codes", "deq",
            f"{SPARK_DOT.format(a='deq', b='deq')} AS anorm2",
        )
    )


def q_sq8_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    coded = _coded(spark, sf_dir)
    q = coded.filter(F.col("vec_id") < N_QUERIES).selectExpr(
        "vec_id AS q_id", "deq AS qd", "anorm2 AS q_norm2"
    )
    cand = coded.selectExpr("vec_id AS c_id", "deq AS cd", "anorm2 AS c_norm2")
    scored = (
        F.broadcast(q)
        .crossJoin(cand)
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn(
            "approx_cosine",
            F.expr(SPARK_DOT.format(a="qd", b="cd"))
            / F.sqrt(F.col("q_norm2") * F.col("c_norm2")),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("approx_cosine").desc(), F.col("c_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "q_id", "rank", F.col("c_id").alias("neighbor_id"),
            "approx_cosine",
        )
    )


_SQL_SQ8_CODED = f"""
emb AS ({DUCK_EMB}),
stats AS (
  SELECT list(lo ORDER BY pos) AS los, list(hi - lo ORDER BY pos) AS rngs
  FROM (
    SELECT u.p AS pos, MIN(v[u.p]) AS lo, MAX(v[u.p]) AS hi
    FROM emb, UNNEST(range(1, {DIM} + 1)) AS u(p)
    GROUP BY u.p
  )
),
coded AS (
  SELECT vec_id, codes, deq, {DUCK_DOT.format(a='deq', b='deq')} AS anorm2
  FROM (
    SELECT vec_id, codes, {_DUCK_DEQ} AS deq
    FROM (
      SELECT vec_id, los, rngs, {_DUCK_CODES} AS codes
      FROM emb, stats
    )
  )
)"""

SQL_SQ8_ANN = f"""
WITH {_SQL_SQ8_CODED},
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
    {DUCK_DOT.format(a='q.deq', b='c.deq')} / sqrt(q.anorm2 * c.anorm2)
      AS approx_cosine
  FROM coded q JOIN coded c
    ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
)
SELECT q_id, rank, c_id AS neighbor_id, approx_cosine FROM (
  SELECT q_id, c_id, approx_cosine,
    ROW_NUMBER() OVER (PARTITION BY q_id
      ORDER BY approx_cosine DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


def register_all() -> None:
    register("sim_sq8_ann", q_sq8_ann, SQL_SQ8_ANN)
