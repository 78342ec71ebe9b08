"""Binary (1-bit) sign quantization ANN — the fourth, most extreme
compression point on the similarity family's curve.

The family so far: exact cosine (64 doubles/vec), IVF (cell-routed),
PQ (8 bytes/vec, trained codebooks), SQ8 (64 bytes/vec, no training).
Binary quantization is the Faiss ``BinaryFlat`` / Weaviate BQ point:
ONE bit per dimension — 8 bytes/vec at DIM=64, 64x compression with no
training pass — and distance becomes Hamming over machine words
(XOR + POPCOUNT), the cheapest similarity kernel that exists: two
BIGINT xors and two bit_counts per candidate, no floats at all in the
scan. The standard production shape is binary scan → exact re-rank;
the recall twin here measures exactly what that first stage gives up.

Determinism contract:
- thresholds are per-dim MIDRANGE ((min+max)/2) — min/max are exact
  order-independent doubles, unlike a mean, which would drag an
  order-dependent float sum across engines;
- each vector packs ``v[i] > mid[i]`` into two 32-bit words (dims
  0-31 → word lo, 32-63 → word hi) via an integer fold — two BIGINTs
  per vector, never touching the sign bit, so no overflow semantics
  to reconcile;
- Hamming = bit_count(lo_a XOR lo_b) + bit_count(hi_a XOR hi_b) —
  pure integer ops, bit-equal cross-engine by construction (the XOR
  spelling differs per dialect: Spark ``^`` vs DuckDB ``xor()`` —
  DuckDB's ``^`` is POWER).

Scale: the stats frame is DIM rows (broadcast); the packed index is
16 bytes/vec — at 100 TB of raw vectors the binary index is ~1.6 TB,
scanned with two xors/popcounts per row and finished by a per-query
top-k window (TakeOrderedAndProject shape). The 5-query broadcast
crossJoin is the documented exact-kernel fixture, same as
``sim_cosine_topk`` / ``sim_sq8_ann``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries_ext import register
from .similarity import DIM, DUCK_EMB, N_QUERIES, TOP_K, _emb

_HALF = DIM // 2  # 32 dims per packed word

_SPARK_PACK = (
    "aggregate(sequence(0, {n} - 1), CAST(0 AS BIGINT), (acc, i) ->"
    " acc + CASE WHEN element_at(v, i + {off} + 1)"
    " > element_at(mids, i + {off} + 1)"
    " THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END)"
)
_DUCK_PACK = (
    "CAST(list_sum(list_transform(range(0, {n}), i ->"
    " CASE WHEN v[i + {off} + 1] > mids[i + {off} + 1]"
    " THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END))"
    " AS BIGINT)"
)


def _packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, w_lo, w_hi): the stored binary index — two BIGINTs per
    vector, thresholds broadcast from a DIM-row stats frame."""
    emb = _emb(spark, sf_dir)
    stats = (
        emb.selectExpr("posexplode(v) AS (pos, x)")
        .groupBy("pos")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, lo, hi))),"
                " s -> (s.lo + s.hi) / 2.0) AS mids"
            )
        )
    )
    return emb.crossJoin(F.broadcast(stats)).selectExpr(
        "vec_id",
        _SPARK_PACK.format(n=_HALF, off=0) + " AS w_lo",
        _SPARK_PACK.format(n=_HALF, off=_HALF) + " AS w_hi",
    )


def q_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    packed = _packed(spark, sf_dir)
    q = packed.filter(F.col("vec_id") < N_QUERIES).selectExpr(
        "vec_id AS q_id", "w_lo AS q_lo", "w_hi AS q_hi"
    )
    cand = packed.selectExpr("vec_id AS c_id", "w_lo AS c_lo", "w_hi AS c_hi")
    scored = (
        F.broadcast(q)
        .crossJoin(cand)
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn(
            "hamming",
            F.expr(
                "CAST(bit_count(q_lo ^ c_lo) + bit_count(q_hi ^ c_hi)"
                " AS BIGINT)"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("hamming").asc(), F.col("c_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "rank", F.col("c_id").alias("neighbor_id"), "hamming")
    )


_SQL_PACKED = f"""
emb AS ({DUCK_EMB}),
stats AS (
  SELECT list((lo + hi) / 2.0 ORDER BY pos) AS mids
  FROM (
    SELECT u.p AS pos, MIN(v[u.p]) AS lo, MAX(v[u.p]) AS hi
    FROM emb, UNNEST(range(1, {DIM} + 1)) AS u(p)
    GROUP BY u.p
  )
),
packed AS (
  SELECT vec_id,
    {_DUCK_PACK.format(n=_HALF, off=0)} AS w_lo,
    {_DUCK_PACK.format(n=_HALF, off=_HALF)} AS w_hi
  FROM emb, stats
)"""

SQL_BINARY_HAMMING = f"""
WITH {_SQL_PACKED},
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
    CAST(bit_count(xor(q.w_lo, c.w_lo))
      + bit_count(xor(q.w_hi, c.w_hi)) AS BIGINT) AS hamming
  FROM packed q JOIN packed c
    ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
)
SELECT q_id, rank, c_id AS neighbor_id, hamming FROM (
  SELECT q_id, c_id, hamming,
    ROW_NUMBER() OVER (PARTITION BY q_id
      ORDER BY hamming ASC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


def register_all() -> None:
    register("sim_binary_hamming", q_binary_hamming, SQL_BINARY_HAMMING)
