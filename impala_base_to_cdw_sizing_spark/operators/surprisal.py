"""Unigram surprisal scoring — the perplexity-filter shape with exactly
portable integer arithmetic.

Production corpus pipelines score documents with a language-model
perplexity and drop the tails (gibberish scores high — all rare tokens;
boilerplate scores low — all stopwords). The statistical shape is: a
unigram frequency table over the corpus, a per-token information
content, and a per-document mean. A float ``ln(p)`` is NOT
cross-engine-hashable (libm implementations differ by ulps), so the
information content here is the integer ``floor(log2)`` — computed as
``length(binary representation) - 1``, bit-identical everywhere:

    surprisal(token) = floor(log2(total_tokens)) - floor(log2(tf(token)))

Per-doc sums stay BIGINT; the mean is one exact double division at the
end. The ranking this induces is the same one an ln-based unigram model
gives up to quantization — and the quantization is the portability
contract.

Scale: the frequency table is vocabulary-sized. The token join is the
classic Zipf hot-key case (the most common token hits one reducer), so
the per-token table joins AFTER collapsing each doc's tokens to
(doc_id, token, n_occurrences) — the join cardinality is per-doc
DISTINCT tokens, and a hot token contributes one row per doc, not one
per occurrence. At 100 TB either broadcast the top-K tokens (tiny, covers
almost all mass) and shuffle-join the tail, or salt — see SCALE.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries_ext import register
from .text import DUCK_TOKENS, SPARK_TOKENS
from ..sources.files import ROWS_PER_TASK_HEAVY, read_input

# mean-surprisal band (bits/token) for the keep flag; outside = filtered.
# The synthetic corpus's natural band is narrow (5.0–5.5 bits/token at
# sf0.01 — a uniform vocabulary), so the low cut sits INSIDE it to keep
# the flag non-vacuous here; real boilerplate/gibberish tails land far
# outside either cut (pinned on synthesized degenerate docs in
# tests/test_surprisal.py).
_MIN_BITS = 5.1
_MAX_BITS = 8.0


def unigram_surprisal(docs: DataFrame) -> DataFrame:
    """Core scoring over any (doc_id, text) frame — the registered query
    binds it to the documents table; tests feed synthesized tails."""
    toks = (
        docs.selectExpr("doc_id", f"explode({SPARK_TOKENS}) AS token")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("n_occ"))
    )
    freq = toks.groupBy("token").agg(F.sum("n_occ").alias("tf"))
    total = freq.agg(F.sum("tf").alias("total_tokens"))
    scored = (
        toks.join(freq, "token")
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "doc_id", "n_occ",
            "(length(bin(total_tokens)) - 1) - (length(bin(tf)) - 1)"
            " AS surprisal_bits",
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("n_occ").alias("n_tokens"),
            F.sum(F.col("surprisal_bits") * F.col("n_occ")).alias("sum_bits"),
        )
        .selectExpr(
            "doc_id", "n_tokens", "sum_bits",
            "CAST(sum_bits AS DOUBLE) / n_tokens AS mean_bits",
            f"CAST(CAST(sum_bits AS DOUBLE) / n_tokens >= {_MIN_BITS}"
            f" AND CAST(sum_bits AS DOUBLE) / n_tokens <= {_MAX_BITS}"
            " AS BIGINT) AS keep",
        )
    )


def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unigram_surprisal(
        read_input(spark, sf_dir, "documents", ROWS_PER_TASK_HEAVY)
    )


SQL_UNIGRAM_SURPRISAL = f"""
WITH toks AS (
  SELECT doc_id, token, COUNT(*) AS n_occ
  FROM (SELECT doc_id, unnest({DUCK_TOKENS}) AS token FROM documents)
  GROUP BY 1, 2
),
freq AS (SELECT token, CAST(SUM(n_occ) AS BIGINT) AS tf FROM toks GROUP BY 1),
total AS (SELECT CAST(SUM(tf) AS BIGINT) AS total_tokens FROM freq),
scored AS (
  SELECT doc_id, n_occ,
    (length(printf('%b', total_tokens)) - 1) - (length(printf('%b', tf)) - 1)
      AS surprisal_bits
  FROM toks JOIN freq USING (token), total
)
SELECT doc_id,
  CAST(SUM(n_occ) AS BIGINT) AS n_tokens,
  CAST(SUM(surprisal_bits * n_occ) AS BIGINT) AS sum_bits,
  CAST(SUM(surprisal_bits * n_occ) AS DOUBLE) / SUM(n_occ) AS mean_bits,
  CAST(CAST(SUM(surprisal_bits * n_occ) AS DOUBLE) / SUM(n_occ) >= {_MIN_BITS}
   AND CAST(SUM(surprisal_bits * n_occ) AS DOUBLE) / SUM(n_occ) <= {_MAX_BITS}
   AS BIGINT) AS keep
FROM scored
GROUP BY doc_id
"""


def register_all() -> None:
    register("text_unigram_surprisal", q_unigram_surprisal, SQL_UNIGRAM_SURPRISAL)
