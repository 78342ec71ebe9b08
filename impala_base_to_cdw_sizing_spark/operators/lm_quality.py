"""Bigram language-model perplexity filter — the CCNet-shaped quality
gate, with exactly portable arithmetic.

CCNet's central move: score every document with a language model
trained on a REFERENCE corpus (they use Wikipedia; here the ``lang =
'en'`` subset stands in) and bucket the corpus by perplexity — head
(most reference-like) / middle / tail — so downstream sampling can
prefer head text. ``text_unigram_surprisal`` has the unigram shape;
this operator is the real conditional model: add-one-smoothed bigrams,

    P(w_i | w_{i-1}) = (c2(w_{i-1}, w_i) + 1) / (c1(w_{i-1}) + V)

with c2/c1 counted on the reference subset and V its vocabulary size.
A document's score is the mean negative log-likelihood (nats/bigram);
an out-of-vocabulary context degrades to P = 1/V exactly (c2 = c1 = 0),
so unseen text is scored, not dropped.

Portability: -ln P = ln((c1 + V) / (c2 + 1)) — a positive ln of an
exact BIGINT ratio, computed with the shared deterministic sqrt/atanh
construction (curation.py), quantized to integer micro-nats PER BIGRAM
TYPE, then summed as BIGINT (order-independent). The per-doc mean is
one correctly-rounded double division at the end. ratio <= c1 + V, so
the K=16 range reduction's |ln| <= ~16 envelope holds to corpora of
~9M reference bigrams; a 100 TB run raises K (one constant).

Buckets: fixed nats/bigram thresholds, chosen inside the synthetic
corpus's natural band so all three buckets are non-vacuous (the same
calibration note as ``_MIN_BITS`` in surprisal.py). CCNet itself uses
corpus tertiles computed ONCE per snapshot and then applied as
constants — which is exactly what fixed thresholds are at execution
time; a global NTILE per run would be a full-sort-to-one-partition at
100 TB for no modeling gain.

Scale: bigram types collapse per doc BEFORE any join (the surprisal
hot-key rule: a Zipf-hot bigram contributes one row per doc, not one
per occurrence); the model is bigram-type-sized — joined, not
broadcast, at corpus scale (same key both sides, partial aggs
map-side); V is a broadcast 1-row aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .curation import _DET_LN_W, _DET_LN_Y, _DET_LN_Z, _DET_LN_Z2
from .queries_ext import register
from .text import DUCK_TOKENS, SPARK_TOKENS
from ..sources.files import ROWS_PER_TASK_HEAVY, read_input

_REF_LANG = "en"
# nats/bigram bucket cuts — inside the synthetic corpus's natural band
# (measured [3.23, 3.66], tertiles 3.378/3.427 at sf0.01) so head/middle/tail all populate;
# real crawl text spreads over several nats and the cuts would come
# from a reference-corpus percentile pass, applied here as constants.
_HEAD_MAX = 3.38
_MIDDLE_MAX = 3.43

_SPARK_BIGRAMS = (
    "transform(sequence(1, size(tokens) - 1),"
    " i -> struct(element_at(tokens, i) AS prev,"
    " element_at(tokens, i + 1) AS cur))"
)
_DUCK_BIGRAMS = (
    "list_transform(range(2, len(tokens) + 1),"
    " i -> {'prev': tokens[i - 1], 'cur': tokens[i]})"
)

_RATIO = (
    "CAST(coalesce(c1, 0) + v AS DOUBLE) / CAST(coalesce(c2, 0) + 1 AS DOUBLE)"
)

_BUCKET_CASE = (
    f"CASE WHEN xent_nats <= {_HEAD_MAX} THEN 'head' "
    f"WHEN xent_nats <= {_MIDDLE_MAX} THEN 'middle' "
    "ELSE 'tail' END"
)


def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_input(spark, sf_dir, "documents", ROWS_PER_TASK_HEAVY)
    bg = (
        docs.withColumn("tokens", F.expr(SPARK_TOKENS))
        .selectExpr("doc_id", "lang", f"explode({_SPARK_BIGRAMS}) AS b")
        .selectExpr("doc_id", "lang", "b.prev AS prev", "b.cur AS cur")
    )
    per_doc = bg.groupBy("doc_id", "prev", "cur").agg(
        F.count("*").alias("n_occ")
    )
    ref = bg.filter(F.col("lang") == _REF_LANG)
    c2_tbl = ref.groupBy("prev", "cur").agg(
        F.count("*").cast("long").alias("c2")
    )
    c1_tbl = c2_tbl.groupBy("prev").agg(F.sum("c2").alias("c1"))
    vocab = ref.selectExpr(
        "explode(array(prev, cur)) AS token"
    ).agg(F.countDistinct("token").cast("long").alias("v"))
    scored = (
        per_doc.join(c2_tbl, ["prev", "cur"], "left")
        .join(c1_tbl, "prev", "left")
        .crossJoin(F.broadcast(vocab))
        .selectExpr("doc_id", "n_occ", f"{_RATIO} AS ratio")
        .selectExpr("doc_id", "n_occ", f"{_DET_LN_Y} AS y")
        .selectExpr("doc_id", "n_occ", f"{_DET_LN_Z} AS z")
        .selectExpr("doc_id", "n_occ", "z", f"{_DET_LN_Z2} AS z2")
        .selectExpr("doc_id", "n_occ", f"{_DET_LN_W} AS nll_micro")
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_bigrams"),
            F.sum(F.col("nll_micro") * F.col("n_occ")).alias("sum_micro"),
        )
        .selectExpr(
            "doc_id", "n_bigrams", "sum_micro",
            "CAST(sum_micro AS DOUBLE) / 1000000.0 / n_bigrams AS xent_nats",
        )
        .selectExpr(
            "doc_id", "n_bigrams", "sum_micro", "xent_nats",
            f"{_BUCKET_CASE} AS ppl_bucket",
        )
    )


SQL_BIGRAM_PERPLEXITY = f"""
WITH bg AS (
  SELECT doc_id, lang, b.prev AS prev, b.cur AS cur
  FROM (
    SELECT doc_id, lang, unnest({_DUCK_BIGRAMS}) AS b
    FROM (SELECT doc_id, lang, {DUCK_TOKENS} AS tokens FROM documents)
  )
),
per_doc AS (
  SELECT doc_id, prev, cur, COUNT(*) AS n_occ
  FROM bg GROUP BY 1, 2, 3
),
c2_tbl AS (
  SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS c2
  FROM bg WHERE lang = '{_REF_LANG}' GROUP BY 1, 2
),
c1_tbl AS (
  SELECT prev, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2_tbl GROUP BY 1
),
vocab AS (
  SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v
  FROM (
    SELECT prev AS token FROM bg WHERE lang = '{_REF_LANG}'
    UNION
    SELECT cur FROM bg WHERE lang = '{_REF_LANG}'
  )
),
scored AS (
  SELECT doc_id, n_occ, {_DET_LN_W} AS nll_micro FROM (
    SELECT doc_id, n_occ, z, {_DET_LN_Z2} AS z2 FROM (
      SELECT doc_id, n_occ, {_DET_LN_Z} AS z FROM (
        SELECT doc_id, n_occ, {_DET_LN_Y} AS y FROM (
          SELECT p.doc_id, p.n_occ, {_RATIO} AS ratio
          FROM per_doc p
          LEFT JOIN c2_tbl USING (prev, cur)
          LEFT JOIN c1_tbl USING (prev)
          CROSS JOIN vocab
        )
      )
    )
  )
)
SELECT doc_id, n_bigrams, sum_micro, xent_nats,
  {_BUCKET_CASE} AS ppl_bucket
FROM (
  SELECT doc_id, CAST(SUM(n_occ) AS BIGINT) AS n_bigrams,
    CAST(SUM(nll_micro * n_occ) AS BIGINT) AS sum_micro,
    CAST(SUM(nll_micro * n_occ) AS DOUBLE) / 1000000.0 / SUM(n_occ)
      AS xent_nats
  FROM scored GROUP BY doc_id
)
"""


def register_all() -> None:
    register(
        "text_bigram_perplexity", q_bigram_perplexity, SQL_BIGRAM_PERPLEXITY
    )
