"""RAKE keyword extraction (Rose et al. 2010) — late r8.

``text_rake_keywords`` — the unsupervised keyword extractor the text
tier (TF-IDF top terms, BM25, PMI collocations) did not cover: RAKE
scores multi-word CANDIDATE PHRASES (stopword-delimited token runs),
not individual terms, which is what distinguishes it from
``text_tfidf_topterms`` (per-term) and ``text_pmi_collocations``
(bigram association). The pipeline:

1. segment: running stopword count per document (window partitioned by
   doc_id) splits token streams into candidate phrases — stopwords are
   the corpus's two function words ('the', 'a');
2. word stats over phrase membership: freq(w) = occurrences in
   phrases, deg(w) = Σ length of phrases containing w (RAKE's
   co-occurrence degree, self included);
3. word score deg/freq and phrase score Σ member scores — kept in
   integer micro-units (``(deg·10^6) DIV freq`` summed), so ranking
   never touches a float; the double score is display-only;
4. identical phrases aggregate (n_occurrences) and the corpus top-20
   by (score desc, phrase asc) comes out of ORDER BY + LIMIT — the
   TakeOrderedAndProject shape (per-partition heaps), never a global
   sort.

Phrases are capped at 32 tokens (a stopword-free pathological document
otherwise becomes one giant phrase — the hot-doc guard; capped
segments are dropped, not truncated, so the score arithmetic never
sees a partial phrase).

Scale: postings explode + two groupBys (phrases, word stats) + one
broadcast-back join of word scores onto phrase membership; everything
is partial-agg shaped, the window partitions by doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries_ext import register
from .text import DUCK_TOKENS, SPARK_TOKENS, _docs

_STOP = ("the", "a")
_MAX_PHRASE = 32
_TOP = 20
_MICRO = 1_000_000

_STOP_SQL = "('" + "', '".join(_STOP) + "')"


def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _docs(spark, sf_dir)
        .withColumn("tokens", F.expr(SPARK_TOKENS))
        .selectExpr("doc_id", "posexplode(tokens) AS (pos, term)")
        .selectExpr(
            "doc_id", "pos", "term",
            f"CASE WHEN term IN {_STOP_SQL} THEN 1 ELSE 0 END AS is_stop",
        )
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    segs = (
        toks.withColumn("seg", F.sum("is_stop").over(w_doc))
        .filter(F.col("is_stop") == 0)
        .select("doc_id", "seg", "pos", "term")
    )
    phrases = (
        segs.groupBy("doc_id", "seg")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(pos, term))),"
                " s -> s.term), ' ') AS phrase"
            ),
            F.count("*").cast("long").alias("n_words"),
        )
        .filter(F.col("n_words") <= _MAX_PHRASE)
        .localCheckpoint()  # membership read twice: word stats + scoring
    )
    # word stats count EVERY phrase occurrence (RAKE's freq/deg are
    # occurrence-weighted) ...
    members = phrases.selectExpr(
        "phrase", "n_words", "explode(split(phrase, ' ')) AS term"
    )
    word_stats = members.groupBy("term").agg(
        F.count("*").cast("long").alias("freq"),
        F.sum("n_words").cast("long").alias("deg"),
    ).selectExpr(
        "term", f"(deg * CAST({_MICRO} AS BIGINT)) DIV freq AS w_score_micro"
    )
    # ... but each DISTINCT phrase is scored once (scoring over the
    # occurrence-level membership would multiply the score by n_occ)
    phrases_u = phrases.groupBy("phrase", "n_words").agg(
        F.count("*").cast("long").alias("n_occurrences")
    )
    scoring = phrases_u.selectExpr(
        "phrase", "explode(split(phrase, ' ')) AS term"
    )
    phrase_scores = (
        scoring.join(F.broadcast(word_stats), "term")
        .groupBy("phrase")
        .agg(F.sum("w_score_micro").cast("long").alias("score_micro"))
    )
    ranked = phrases_u.join(phrase_scores, "phrase").selectExpr(
        "phrase", "n_words", "n_occurrences", "score_micro",
        f"CAST(score_micro AS DOUBLE) / {_MICRO}.0 AS score",
    )
    return ranked.orderBy(
        F.col("score_micro").desc(), F.col("phrase").asc()
    ).limit(_TOP)


SQL_RAKE_KEYWORDS = f"""
WITH toks AS (
  SELECT doc_id, pos, term,
    CASE WHEN term IN {_STOP_SQL} THEN 1 ELSE 0 END AS is_stop
  FROM (
    SELECT doc_id, unnest(t) AS term,
      generate_subscripts(t, 1) - 1 AS pos
    FROM (SELECT doc_id, {DUCK_TOKENS} AS t FROM documents)
  )
),
segs AS (
  SELECT doc_id, pos, term,
    SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS seg
  FROM toks
  QUALIFY is_stop = 0
),
phrases AS (
  SELECT doc_id, seg, string_agg(term, ' ' ORDER BY pos) AS phrase,
    CAST(COUNT(*) AS BIGINT) AS n_words
  FROM segs GROUP BY 1, 2
  HAVING COUNT(*) <= {_MAX_PHRASE}
),
members AS (
  SELECT phrase, n_words, unnest(string_split(phrase, ' ')) AS term
  FROM phrases
),
word_stats AS (
  SELECT term,
    (CAST(SUM(n_words) AS BIGINT) * CAST({_MICRO} AS BIGINT))
      // CAST(COUNT(*) AS BIGINT) AS w_score_micro
  FROM members GROUP BY 1
),
phrases_u AS (
  SELECT phrase, n_words, CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM phrases GROUP BY 1, 2
),
scoring AS (
  SELECT phrase, unnest(string_split(phrase, ' ')) AS term FROM phrases_u
),
phrase_scores AS (
  SELECT s.phrase, CAST(SUM(w.w_score_micro) AS BIGINT) AS score_micro
  FROM scoring s JOIN word_stats w USING (term)
  GROUP BY 1
),
ranked AS (
  SELECT u.phrase, u.n_words, u.n_occurrences, p.score_micro,
    CAST(p.score_micro AS DOUBLE) / {_MICRO}.0 AS score
  FROM phrases_u u JOIN phrase_scores p USING (phrase)
)
SELECT * FROM ranked ORDER BY score_micro DESC, phrase ASC LIMIT {_TOP}
"""


def register_all() -> None:
    register("text_rake_keywords", q_rake_keywords, SQL_RAKE_KEYWORDS)
