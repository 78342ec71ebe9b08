"""Retrieval operators (r8): BM25 scoring and PMI collocation mining —
two operator classes a training-data platform needs (lexical search over
the corpus, collocation statistics for tokenizer / phrase-vocabulary
work).

Both follow the repo's determinism and scale contracts:

- ``text_bm25_topk``: Okapi BM25 (Robertson/Sparck Jones; the public
  formulation, e.g. Robertson & Zaragoza 2009) of a fixed probe-query
  set against ``documents``. IDF goes through the deterministic ln on
  an exact integer ratio ((2(N−df)+1)/(2df+1) — the BM25 +0.5
  smoothing doubled into integers); the tf saturation is the same
  closed-form double expression in both engines; each term's
  contribution is quantized to integer micro-units BEFORE the per-doc
  sum (unordered double addition is order-dependent; integer sums are
  not). Top-k per query is a window PARTITIONED by query — never a
  global sort.
- ``text_pmi_collocations``: pointwise mutual information
  ln(c12·N/(c1·c2)) over adjacent-token bigrams (the classic
  collocation statistic, Church & Hanks 1990), min-count cut, exact
  integer ratio through the det-ln. BIGINT products stay exact: the
  magnitude bound is c12·N < 2^63 AND the det-ln domain needs
  |ln ratio| ≤ ~16.6 — both hold to ~e^16 bigram tokens; past that the
  ratio decomposes into ln-sums of smaller exact ratios (documented,
  not needed at any tested sf).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .curation import _DET_LN_W, _DET_LN_Y, _DET_LN_Z, _DET_LN_Z2
from .lm_quality import _DUCK_BIGRAMS, _SPARK_BIGRAMS
from .queries_ext import register
from .text import DUCK_TOKENS, SPARK_TOKENS
from ..sources.files import ROWS_PER_TASK_HEAVY, read_input

# --- BM25 -------------------------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10
# probe queries over the corpus vocabulary; a real deployment feeds
# these from a query table — the plan is identical (broadcast the terms)
_BM25_QUERIES: list[tuple[int, str]] = [
    (1, "spark"), (1, "query"),
    (2, "hash"), (2, "join"), (2, "merge"),
    (3, "window"), (3, "filter"),
]

# exact-integer IDF ratio: (N - df + 0.5)/(df + 0.5) == (2(N-df)+1)/(2df+1)
_IDF_RATIO = (
    "CAST(2 * (n_docs - df) + 1 AS DOUBLE) / CAST(2 * df + 1 AS DOUBLE)"
)
# tf saturation — identical expression text in both engines: every step
# is one correctly-rounded IEEE op on identical inputs, so the double is
# bit-equal without quantization; only the SUM needs integers
_BM25_SAT = (
    f"(CAST(tf AS DOUBLE) * {_BM25_K1 + 1.0}) / "
    f"(CAST(tf AS DOUBLE) + {_BM25_K1} * "
    f"({1.0 - _BM25_B} + ({_BM25_B} * CAST(doc_len AS DOUBLE)) / avg_len))"
)
_BM25_CONTRIB = (
    f"CAST(floor(CAST(idf_micro AS DOUBLE) * {_BM25_SAT} + 0.5) AS BIGINT)"
)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_input(spark, sf_dir, "documents", ROWS_PER_TASK_HEAVY).selectExpr(
        "doc_id", f"{SPARK_TOKENS} AS tokens"
    )
    lens = docs.selectExpr("doc_id", "size(tokens) AS doc_len")
    corpus = lens.agg(
        F.count("*").cast("long").alias("n_docs"),
        # one double division of two exact BIGINTs — bit-equal cross-engine
        (F.sum("doc_len").cast("double") / F.count("*").cast("double")).alias(
            "avg_len"
        ),
    )
    q = spark.createDataFrame(_BM25_QUERIES, "query_id int, term string")
    toks = docs.selectExpr("doc_id", "explode(tokens) AS term")
    # ONE corpus explode: restrict to query terms immediately (broadcast
    # semi-join), materialize the tiny matched frame, and derive both
    # the df table and the tf table from it — without the checkpoint the
    # two branches each re-run the corpus-wide explode
    matched = toks.join(
        F.broadcast(q.select("term").distinct()), "term"
    ).localCheckpoint()
    df_tbl = (
        matched.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
    )
    idf = (
        df_tbl.crossJoin(F.broadcast(corpus))
        .selectExpr("term", "n_docs", "avg_len", f"{_IDF_RATIO} AS ratio")
        .selectExpr("term", "avg_len", f"{_DET_LN_Y} AS y")
        .selectExpr("term", "avg_len", f"{_DET_LN_Z} AS z")
        .selectExpr("term", "avg_len", "z", f"{_DET_LN_Z2} AS z2")
        .selectExpr("term", "avg_len", f"{_DET_LN_W} AS idf_micro")
    )
    tf = (
        matched.join(F.broadcast(q), "term")
        .groupBy("query_id", "doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    scored = (
        tf.join(lens, "doc_id")
        .join(F.broadcast(idf), "term")
        .selectExpr("query_id", "doc_id", f"{_BM25_CONTRIB} AS contrib_micro")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib_micro").cast("long").alias("score_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _BM25_TOPK)
        .select("query_id", "rank", "doc_id", "score_micro")
    )


def _sql_bm25() -> str:
    qvals = ", ".join(f"({qid}, '{t}')" for qid, t in _BM25_QUERIES)
    return f"""
WITH q(query_id, term) AS (VALUES {qvals}),
docs AS (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents),
lens AS (SELECT doc_id, len(tokens) AS doc_len FROM docs),
corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(doc_len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_len
  FROM lens
),
toks AS (SELECT doc_id, unnest(tokens) AS term FROM docs),
df_tbl AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM (
    SELECT DISTINCT doc_id, term FROM toks
    WHERE term IN (SELECT DISTINCT term FROM q)
  ) GROUP BY term
),
idf AS (
  SELECT term, avg_len, {_DET_LN_W} AS idf_micro FROM (
    SELECT term, avg_len, z, {_DET_LN_Z2} AS z2 FROM (
      SELECT term, avg_len, {_DET_LN_Z} AS z FROM (
        SELECT term, avg_len, {_DET_LN_Y} AS y FROM (
          SELECT term, n_docs, avg_len, {_IDF_RATIO} AS ratio
          FROM df_tbl CROSS JOIN corpus
        )
      )
    )
  )
),
tf AS (
  SELECT query_id, doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks JOIN q USING (term)
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT query_id, doc_id,
    CAST(SUM(contrib_micro) AS BIGINT) AS score_micro
  FROM (
    SELECT query_id, doc_id, {_BM25_CONTRIB} AS contrib_micro
    FROM tf JOIN lens USING (doc_id) JOIN idf USING (term)
  )
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score_micro FROM (
  SELECT query_id, doc_id, score_micro,
    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
  FROM scored
)
WHERE rank <= {_BM25_TOPK}
"""


# --- PMI collocations -------------------------------------------------------------

_PMI_MIN_COUNT = 5
# exact-integer PMI ratio: c12·N / (c1·c2), all BIGINT products
_PMI_RATIO = "CAST(c12 * n_bg AS DOUBLE) / CAST(c1 * c2 AS DOUBLE)"


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_input(spark, sf_dir, "documents", ROWS_PER_TASK_HEAVY)
    bg = (
        docs.withColumn("tokens", F.expr(SPARK_TOKENS))
        .selectExpr(f"explode({_SPARK_BIGRAMS}) AS b")
        .selectExpr("b.prev AS prev", "b.cur AS cur")
    )
    # eager localCheckpoint (the sketch_countmin_topk precedent): c12 is
    # read four times below (marginals, total, main) and is bigram-TYPE
    # sized — without the materialization each branch re-runs the
    # corpus-wide explode+groupBy (the plan audit showed 4 scans)
    c12 = (
        bg.groupBy("prev", "cur")
        .agg(F.count("*").cast("long").alias("c12"))
        .localCheckpoint()
    )
    c1 = c12.groupBy("prev").agg(F.sum("c12").cast("long").alias("c1"))
    c2 = c12.groupBy("cur").agg(F.sum("c12").cast("long").alias("c2"))
    n_bg = c12.agg(F.sum("c12").cast("long").alias("n_bg"))
    return (
        c12.filter(F.col("c12") >= _PMI_MIN_COUNT)
        .join(c1, "prev")
        .join(c2, "cur")
        .crossJoin(F.broadcast(n_bg))
        .selectExpr("prev", "cur", "c12", f"{_PMI_RATIO} AS ratio")
        .selectExpr("prev", "cur", "c12", f"{_DET_LN_Y} AS y")
        .selectExpr("prev", "cur", "c12", f"{_DET_LN_Z} AS z")
        .selectExpr("prev", "cur", "c12", "z", f"{_DET_LN_Z2} AS z2")
        .selectExpr("prev", "cur", "c12", f"{_DET_LN_W} AS pmi_micro")
    )


def _sql_pmi() -> str:
    return f"""
WITH bg AS (
  SELECT b.prev AS prev, b.cur AS cur FROM (
    SELECT unnest({_DUCK_BIGRAMS}) AS b
    FROM (SELECT {DUCK_TOKENS} AS tokens FROM documents)
  )
),
c12 AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS c12
        FROM bg GROUP BY 1, 2),
c1 AS (SELECT prev, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
c2 AS (SELECT cur, CAST(SUM(c12) AS BIGINT) AS c2 FROM c12 GROUP BY 1),
tot AS (SELECT CAST(SUM(c12) AS BIGINT) AS n_bg FROM c12)
SELECT prev, cur, c12, {_DET_LN_W} AS pmi_micro FROM (
  SELECT prev, cur, c12, z, {_DET_LN_Z2} AS z2 FROM (
    SELECT prev, cur, c12, {_DET_LN_Z} AS z FROM (
      SELECT prev, cur, c12, {_DET_LN_Y} AS y FROM (
        SELECT prev, cur, c12, {_PMI_RATIO} AS ratio
        FROM c12 JOIN c1 USING (prev) JOIN c2 USING (cur) CROSS JOIN tot
        WHERE c12 >= {_PMI_MIN_COUNT}
      )
    )
  )
)
"""


def register_all() -> None:
    register("text_bm25_topk", q_bm25_topk, _sql_bm25())
    register("text_pmi_collocations", q_pmi_collocations, _sql_pmi())
