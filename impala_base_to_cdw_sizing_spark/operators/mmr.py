"""Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998) —
the diversity-aware final stage of a RAG retrieval pipeline.

``sim_mmr_rerank`` — a plain cosine top-k returns near-duplicates of
the best hit (this corpus has injected near-dup clusters, so the
failure is real here, not hypothetical); MMR greedily selects k=5 of
the top-10 shortlist maximizing

    λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s),   λ = 1/2

The greedy loop is a FIXED 5-round unroll (the ``graph_pagerank_conserving``
pattern: bounded iteration count ⇒ both engines replay the identical
chain; no driver-side loop, no collect): each round joins the
remaining shortlist (≤10 rows/query) against the selected set
(≤4 rows/query), takes the max pairwise similarity as the redundancy
penalty, and picks the arg-max score with a per-query window
(score desc, c_id asc — doubles are bit-equal cross-engine because
every input is the same exact dot-product/√ expression chain, the
``sim_cosine_topk`` contract).

Output: (q_id, mmr_rank, neighbor_id, relevance, redundancy) — the
redundancy column shows WHAT the re-rank traded away (rank-1 has none;
later picks document the max-sim-to-selected at selection time).

Scale shape: everything after the shortlist operates on ≤10 rows per
query; the shortlist itself is the documented exact-kernel fixture
(broadcast 5-query scan). At 100 TB the shortlist comes from the ANN
tier (LSH/IVF/PQ/binary) and this module's rounds are unchanged —
MMR cost is O(k²·shortlist) per query, independent of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries_ext import register
from .similarity import (
    DUCK_DOT,
    DUCK_EMB,
    N_QUERIES,
    SPARK_DOT,
    _emb,
)

_SHORTLIST = 10
_MMR_K = 5
# λ = 1/2: score = (rel - redundancy) / 2 — the /2 is rank-neutral, so
# the comparison uses rel - redundancy directly (exact same doubles)


def _shortlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).withColumn(
        "norm2", F.expr(SPARK_DOT.format(a="v", b="v"))
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).selectExpr(
        "vec_id AS q_id", "v AS qv", "norm2 AS q_norm2"
    )
    cand = emb.selectExpr("vec_id AS c_id", "v AS cv", "norm2 AS c_norm2")
    scored = (
        F.broadcast(q)
        .crossJoin(cand)
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn(
            "rel",
            F.expr(SPARK_DOT.format(a="qv", b="cv"))
            / F.sqrt(F.col("q_norm2") * F.col("c_norm2")),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("rel").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _SHORTLIST)
        .select("q_id", "c_id", "rel", "cv", "c_norm2")
        .localCheckpoint()  # ≤ 10 rows/query, read by every round
    )


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    short = _shortlist(spark, sf_dir)
    w_pick = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(), F.col("c_id").asc()
    )
    # round 1: pure relevance
    selected = (
        short.withColumn("score", F.col("rel"))
        .withColumn("prk", F.row_number().over(w_pick))
        .filter(F.col("prk") == 1)
        .selectExpr(
            "q_id", "c_id", "rel", "cv", "c_norm2",
            "CAST(1 AS BIGINT) AS mmr_rank",
            "CAST(0.0 AS DOUBLE) AS redundancy",
        )
    )
    for k in range(2, _MMR_K + 1):
        remaining = short.join(
            selected.selectExpr("q_id AS sq", "c_id AS s_id"),
            (F.col("q_id") == F.col("sq")) & (F.col("c_id") == F.col("s_id")),
            "left_anti",
        )
        pen = (
            remaining.join(
                selected.selectExpr(
                    "q_id", "cv AS sv", "c_norm2 AS s_norm2"
                ),
                "q_id",
            )
            .withColumn(
                "sim",
                F.expr(SPARK_DOT.format(a="cv", b="sv"))
                / F.sqrt(F.col("c_norm2") * F.col("s_norm2")),
            )
            .groupBy("q_id", "c_id", "rel")
            .agg(F.max("sim").alias("redundancy"))
        )
        pick = (
            pen.withColumn("score", F.col("rel") - F.col("redundancy"))
            .withColumn("prk", F.row_number().over(w_pick))
            .filter(F.col("prk") == 1)
            .select("q_id", "c_id", "rel", "redundancy")
            .join(short.select("q_id", "c_id", "cv", "c_norm2"), ["q_id", "c_id"])
            .selectExpr(
                "q_id", "c_id", "rel", "cv", "c_norm2",
                f"CAST({k} AS BIGINT) AS mmr_rank",
                "redundancy",
            )
        )
        # truncate lineage each round (the graph_pagerank_conserving
        # pattern): the unrolled chain references `selected` three times per round
        # (anti-join, penalty join, union), so without a checkpoint the
        # plan grows ~3^k — 294 exchanges for k=5 on a ≤10-row/query
        # frame, all planner overhead. `selected` is ≤ k rows/query.
        selected = selected.unionByName(pick).localCheckpoint()
    return selected.select(
        "q_id", "mmr_rank", F.col("c_id").alias("neighbor_id"), "rel", "redundancy"
    )


def _mmr_sql() -> str:
    """The oracle: the identical 5-round greedy chain as unrolled CTEs
    (the ``graph_pagerank_conserving`` SQL-builder pattern)."""
    rounds = []
    prev = "selset1"
    for k in range(2, _MMR_K + 1):
        rounds.append(f"""
pen{k} AS (
  SELECT s.q_id, s.c_id, s.rel,
    MAX({DUCK_DOT.format(a='s.cv', b='t.cv')}
      / sqrt(s.c_norm2 * t.c_norm2)) AS redundancy
  FROM short s JOIN {prev} t ON t.q_id = s.q_id
  WHERE NOT EXISTS (
    SELECT 1 FROM {prev} x WHERE x.q_id = s.q_id AND x.c_id = s.c_id)
  GROUP BY 1, 2, 3
),
pick{k} AS (
  SELECT p.q_id, p.c_id, p.rel, sh.cv, sh.c_norm2,
    CAST({k} AS BIGINT) AS mmr_rank, p.redundancy
  FROM (
    SELECT q_id, c_id, rel, redundancy, ROW_NUMBER() OVER (
      PARTITION BY q_id ORDER BY rel - redundancy DESC, c_id ASC) AS prk
    FROM pen{k}
  ) p JOIN short sh ON sh.q_id = p.q_id AND sh.c_id = p.c_id
  WHERE p.prk = 1
),
selset{k} AS (
  SELECT * FROM {prev} UNION ALL SELECT * FROM pick{k}
)""")
        prev = f"selset{k}"
    return f"""
WITH emb AS ({DUCK_EMB}),
normed AS (
  SELECT vec_id, v, {DUCK_DOT.format(a='v', b='v')} AS norm2 FROM emb
),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
    {DUCK_DOT.format(a='q.v', b='c.v')} / sqrt(q.norm2 * c.norm2) AS rel,
    c.v AS cv, c.norm2 AS c_norm2
  FROM normed q JOIN normed c
    ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
),
short AS (
  SELECT q_id, c_id, rel, cv, c_norm2 FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY q_id ORDER BY rel DESC, c_id ASC) AS rk
    FROM scored
  ) WHERE rk <= {_SHORTLIST}
),
selset1 AS (
  SELECT q_id, c_id, rel, cv, c_norm2,
    CAST(1 AS BIGINT) AS mmr_rank, CAST(0.0 AS DOUBLE) AS redundancy
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY q_id ORDER BY rel DESC, c_id ASC) AS prk
    FROM short
  ) WHERE prk = 1
),{",".join(rounds)}
SELECT q_id, mmr_rank, c_id AS neighbor_id, rel, redundancy
FROM {prev}
"""


def register_all() -> None:
    register("sim_mmr_rerank", q_mmr_rerank, _mmr_sql())
