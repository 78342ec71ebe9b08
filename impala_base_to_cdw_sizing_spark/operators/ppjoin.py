"""Prefix-filtered set-similarity join (PPJoin-lite, late r8).

``dedup_prefixfilter`` — the EXACT Jaccard-threshold self-join the
dedup tier did not yet have. The existing candidate generators trade
recall for scale (MinHash bands, SimHash bands, df-cut inverted index
with anchor caps); prefix filtering (Chaudhuri/Ganti/Kaushik 2006,
Xiao et al. PPJoin 2008) is the classic EXACT alternative for a hard
threshold τ: order every document's shingles by a single global order
(df ascending, shingle ascending — rarest first), index only each
doc's first ``|d| − ⌈τ·|d|⌉ + 1`` shingles, and the pigeonhole
guarantees every pair with J ≥ τ collides on at least one indexed
prefix token. Candidates are verified with one array-intersect per
pair (`size(array_intersect)`), never a second corpus join.

Everything threshold-shaped is INTEGER arithmetic at τ = 1/2:
- prefix length  p = n − ⌈n/2⌉ + 1 = n − (n+1) DIV 2 + 1;
- length filter  2·min(na,nb) ≥ max(na,nb)  (a PPJoin necessary
  condition — sets too different in size cannot reach τ);
- accept test    3·n_common ≥ na + nb  ⇔  J ≥ 1/2.
The reported ``jaccard`` double is display-only; no float ever decides
membership, so the result set is bit-identical cross-engine.

tests/test_ppjoin.py measures WHY the operator exists: the
prefix index generates orders of magnitude fewer candidate pairs than
the df≤50 inverted index (`dedup_ngram_jaccard`'s generator) on the
same corpus, while missing nothing above τ. Scale shape: the df join
is an equi-join on shingle; the per-doc prefix rank is a
doc-partitioned window; candidate generation joins only prefix rows —
biased by construction to the rarest shingles, so hot shingles
(the quadratic hazard) almost never enter the index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries_ext import register
from .text import DUCK_SHINGLES, DUCK_TOKENS, SPARK_SHINGLES, SPARK_TOKENS, _docs

# tau = 1/2: catches the corpus's injected near-dup pairs (J >= 0.8)
# with comfortable margin while the background mass sits below 0.1
_SQL_SH_SPARK = f"array_distinct({SPARK_SHINGLES})"
_SQL_SH_DUCK = f"list_distinct({DUCK_SHINGLES})"


def _sh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # read 3x (prefix build + both verification joins); eager
    # localCheckpoint materializes once and is GC-scoped, so a long-lived
    # session never accumulates CacheManager entries (graph_rank pattern —
    # a plain .cache() here leaked storage until unpersist, r8 ADVICE).
    return (
        _docs(spark, sf_dir)
        .withColumn("tokens", F.expr(SPARK_TOKENS))
        .selectExpr("doc_id", f"{_SQL_SH_SPARK} AS shingles")
        .localCheckpoint(eager=True)
    )


def _prefix(sh: DataFrame) -> DataFrame:
    """(doc_id, shingle) restricted to each doc's prefix under the
    global (df asc, shingle asc) order."""
    exploded = sh.selectExpr(
        "doc_id", "size(shingles) AS n_sh", "explode(shingles) AS shingle"
    )
    df = exploded.groupBy("shingle").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    return (
        exploded.join(df, "shingle")
        .withColumn("prk", F.row_number().over(w))
        .filter(F.col("prk") <= F.expr("n_sh - (n_sh + 1) DIV 2 + 1"))
        .select("doc_id", "n_sh", "shingle")
    )


def _candidates(pref: DataFrame) -> DataFrame:
    a, b = pref.alias("a"), pref.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # length filter: 2*min >= max, integer form of min/max >= tau
        .filter(
            F.expr(
                "2 * least(a.n_sh, b.n_sh) >= greatest(a.n_sh, b.n_sh)"
            )
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def q_prefixfilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _sh(spark, sf_dir)
    cand = _candidates(_prefix(sh))
    verified = (
        cand.join(sh.selectExpr("doc_id AS doc_a", "shingles AS sa"), "doc_a")
        .join(sh.selectExpr("doc_id AS doc_b", "shingles AS sb"), "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(size(array_intersect(sa, sb)) AS BIGINT) AS n_common",
            "CAST(size(sa) AS BIGINT) AS n_a",
            "CAST(size(sb) AS BIGINT) AS n_b",
        )
        .filter("3 * n_common >= n_a + n_b")
    )
    return verified.selectExpr(
        "doc_a",
        "doc_b",
        "n_common",
        "CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE)"
        " AS jaccard",
    )


_SQL_COMMON = f"""
sh AS (
  SELECT doc_id, {_SQL_SH_DUCK} AS shingles
  FROM (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents)
),
exploded AS (
  SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh
),
dfreq AS (SELECT shingle, COUNT(*) AS df FROM exploded GROUP BY 1),
pref AS (
  SELECT doc_id, n_sh, shingle FROM (
    SELECT e.doc_id, e.n_sh, e.shingle, ROW_NUMBER() OVER (
      PARTITION BY e.doc_id ORDER BY d.df, e.shingle) AS prk
    FROM exploded e JOIN dfreq d USING (shingle)
  ) WHERE prk <= n_sh - (n_sh + 1) // 2 + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  WHERE 2 * least(a.n_sh, b.n_sh) >= greatest(a.n_sh, b.n_sh)
)"""

SQL_PREFIXFILTER = f"""
WITH {_SQL_COMMON}
SELECT doc_a, doc_b, n_common,
  CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE) AS jaccard
FROM (
  SELECT c.doc_a, c.doc_b,
    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
      AS n_common,
    CAST(len(sa.shingles) AS BIGINT) AS n_a,
    CAST(len(sb.shingles) AS BIGINT) AS n_b
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b
)
WHERE 3 * n_common >= n_a + n_b
"""


def register_all() -> None:
    register("dedup_prefixfilter", q_prefixfilter, SQL_PREFIXFILTER)
