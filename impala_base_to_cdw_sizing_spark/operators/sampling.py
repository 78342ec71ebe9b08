"""Training-data sampling and sequence packing (SURVEY.md §7.1 M8 family).

Two corpus-preparation operators a pretraining pipeline needs beyond
dedup/curation:

- **stratified sampling**: a deterministic per-class subsample. The
  "randomness" is a Knuth multiplicative hash of the key — identical
  integer arithmetic on both engines, so the sample is reproducible
  anywhere (no RNG, no seed plumbing), yet uncorrelated with ingest
  order. Plan: one window per class partition, rank ≤ k.
- **sequence packing**: greedy token-budget binning — documents are
  ordered pseudo-randomly within each language, the running token count
  assigns each doc to ``pack_id = floor(prior_cum / budget)``. This is
  the standard scalable approximation of bin packing (one ordered window
  per class, no quadratic matching), exactly reproducible via integer
  window sums.

Scale: stratified sampling is a single shuffle on the class key. The
registered packing salts each language into hash-range buckets and runs
the running sum as :func:`segmented.segmented_cumsum`, so one language
dominating a 100 TB corpus does not funnel through one partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries_ext import register
from .segmented import segmented_cumsum
from .text import DUCK_TOKENS, SPARK_TOKENS
from ..sources.files import read_input

# Knuth multiplicative hash, 32-bit: deterministic pseudo-shuffle key
_KNUTH = 2654435761
_M32 = 4294967296


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_input(spark, sf_dir, "documents")


def q_sample_stratified(
    spark: SparkSession, sf_dir: str, per_class: int = 50
) -> DataFrame:
    """At most ``per_class`` docs per language, deterministically
    pseudo-random via the Knuth hash of doc_id."""
    w = Window.partitionBy("lang").orderBy("shuffle_key", "doc_id")
    return (
        _docs(spark, sf_dir)
        .selectExpr(
            "doc_id", "lang",
            f"(doc_id * {_KNUTH}) % {_M32} AS shuffle_key",
        )
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= per_class)
        .select("doc_id", "lang", "shuffle_key", "rn")
    )


SQL_SAMPLE_STRATIFIED = f"""
SELECT doc_id, lang, shuffle_key, rn FROM (
  SELECT doc_id, lang, shuffle_key,
    ROW_NUMBER() OVER (
      PARTITION BY lang ORDER BY shuffle_key, doc_id) AS rn
  FROM (
    SELECT doc_id, lang, (doc_id * {_KNUTH}) % {_M32} AS shuffle_key
    FROM documents
  )
) WHERE rn <= 50
"""


def _docs_with_pack_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).selectExpr(
        "doc_id", "lang",
        f"CAST(size({SPARK_TOKENS}) AS BIGINT) AS n_tokens",
        f"(doc_id * {_KNUTH}) % {_M32} AS shuffle_key",
    )


def q_pack_sequences_plain(
    spark: SparkSession, sf_dir: str, budget: int = 2048
) -> DataFrame:
    """Unsalted form: ONE ordered window per language. Correct, but a
    100 TB corpus dominated by one language funnels that language's
    entire running sum through a single partition — kept as the oracle
    twin and the property-test baseline for the salted form below."""
    order = [F.col("shuffle_key").asc(), F.col("doc_id").asc()]
    w = (
        Window.partitionBy("lang")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        _docs_with_pack_keys(spark, sf_dir)
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .selectExpr(
            "doc_id", "lang", "n_tokens", "cum_tokens",
            f"CAST(floor((cum_tokens - n_tokens) / {budget}) AS BIGINT)"
            " AS pack_id",
        )
    )


# number of salt buckets per class; shuffle_key is uniform on [0, 2^32),
# so fixed equal-width ranges of the hash space segment each language's
# pseudo-random order without a quantile pass
_PACK_SALTS = 8
_SALT_WIDTH = _M32 // _PACK_SALTS


def q_pack_sequences(
    spark: SparkSession, sf_dir: str, budget: int = 2048
) -> DataFrame:
    """Greedy token-budget packing, **salted** (the registered 100 TB
    path, bit-equal to the unsalted oracle): each language's
    pseudo-random order is range-segmented into ``_PACK_SALTS`` salt
    buckets on the uniform shuffle_key, and the running token sums are
    :func:`segmented.segmented_cumsum` keyed by language. A skewed class
    spreads over ``_PACK_SALTS`` window partitions instead of funneling
    through one."""
    order = [F.col("shuffle_key").asc(), F.col("doc_id").asc()]
    docs = _docs_with_pack_keys(spark, sf_dir).withColumn(
        "salt", (F.col("shuffle_key") / _SALT_WIDTH).cast("int")
    )
    return segmented_cumsum(
        docs, "salt", order, {"cum_tokens": F.col("n_tokens")}, keys=["lang"]
    ).selectExpr(
        "doc_id", "lang", "n_tokens", "cum_tokens",
        f"CAST(floor((cum_tokens - n_tokens) / {budget}) AS BIGINT)"
        " AS pack_id",
    )


SQL_PACK_SEQUENCES = f"""
SELECT doc_id, lang, n_tokens, cum_tokens,
  CAST(floor((cum_tokens - n_tokens) / 2048) AS BIGINT) AS pack_id
FROM (
  SELECT doc_id, lang, n_tokens,
    CAST(SUM(n_tokens) OVER (
      PARTITION BY lang ORDER BY shuffle_key, doc_id
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM (
    SELECT doc_id, lang,
      len({DUCK_TOKENS}) AS n_tokens,
      (doc_id * {_KNUTH}) % {_M32} AS shuffle_key
    FROM documents
  )
)
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs that share any word
    3-gram with a held-out eval set (here: every 97th doc), with the
    overlap count as evidence.

    Plan: the eval side's distinct shingles are tiny relative to the
    corpus — broadcast them and count matches per training doc; no
    training-side self-join, one aggregation shuffle. This is the shape a
    100 TB decontamination pass wants: eval benchmarks are megabytes,
    the corpus is the only big side and it streams once.
    """
    from .text import SPARK_SHINGLES

    docs = _docs(spark, sf_dir)
    shingled = docs.selectExpr(
        "doc_id",
        "split(text, ' ') AS tokens",
    ).selectExpr("doc_id", f"explode(array_distinct({SPARK_SHINGLES})) AS shingle")
    ev = (
        shingled.filter("doc_id % 97 = 0")
        .select("shingle")
        .distinct()
    )
    train = shingled.filter("doc_id % 97 != 0")
    return (
        train.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap_shingles"))
    )


def _decontaminate_sql() -> str:
    from .text import DUCK_SHINGLES

    return f"""
WITH shingled AS (
  SELECT doc_id, unnest(list_distinct({DUCK_SHINGLES})) AS shingle
  FROM (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents)
),
ev AS (SELECT DISTINCT shingle FROM shingled WHERE doc_id % 97 = 0)
SELECT doc_id, COUNT(*) AS n_overlap_shingles
FROM shingled JOIN ev USING (shingle)
WHERE doc_id % 97 != 0
GROUP BY doc_id
"""


# --- train/val/test split ---------------------------------------------------------

# 80/10/10 by hash bucket: the split is a pure function of doc_id, so it
# is stable under corpus growth (a doc never migrates between splits when
# new data arrives — the property a random split lacks) and reproducible
# on any engine. Knuth-hash bucketing decorrelates from ingest order.
_SPLIT_BOUNDS = (0.8, 0.9)  # [0, .8) train, [.8, .9) val, [.9, 1) test


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, split, n_tokens): deterministic 80/10/10 assignment via
    the shared Knuth coin — one narrow map, no shuffle for the
    assignment itself (the same hash the stratified sampler and the
    mixture resampler use, so splits compose consistently with them)."""
    lo = int(_SPLIT_BOUNDS[0] * _M32)
    hi = int(_SPLIT_BOUNDS[1] * _M32)
    return _docs(spark, sf_dir).selectExpr(
        "doc_id",
        f"CASE WHEN (doc_id * {_KNUTH}) % {_M32} < {lo} THEN 'train' "
        f"WHEN (doc_id * {_KNUTH}) % {_M32} < {hi} THEN 'val' "
        "ELSE 'test' END AS split",
        f"CAST(size({SPARK_TOKENS}) AS BIGINT) AS n_tokens",
    )


SQL_SAMPLE_SPLIT = f"""
SELECT doc_id,
  CASE WHEN (doc_id * {_KNUTH}) % {_M32} < {int(_SPLIT_BOUNDS[0] * _M32)} THEN 'train'
       WHEN (doc_id * {_KNUTH}) % {_M32} < {int(_SPLIT_BOUNDS[1] * _M32)} THEN 'val'
       ELSE 'test' END AS split,
  CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_tokens
FROM documents
"""


# --- weighted reservoir sample (Efraimidis–Spirakis exponential race) -------------
#
# The distributed form of "sample k docs with probability proportional
# to weight": each doc draws a key -ln(u)/w (u uniform, w = n_chars) and
# the k SMALLEST keys win — the exponential-race equivalence of
# Efraimidis & Spirakis's u^(1/w) top-k, provable by monotonicity of
# -ln. Everything is engineered deterministic:
#   u     = (h+1)/(M+1), h a Knuth hash of doc_id reduced mod 2^24 —
#           an exact integer ratio, so -ln(u) = ln((M+1)/(h+1)) is a
#           positive ln of an exact ratio,
#   ln    = the shared sqrt/atanh construction (curation.py): the SAME
#           double in Spark and DuckDB (ln(M+1) ≈ 16.6 sits at the
#           documented |ln| range of the K=16 reduction; a wider hash
#           would raise K),
#   key   = ln_micro / w — one correctly-rounded IEEE division.
# Plan shape: a narrow per-row map, then global top-k — Spark compiles
# ORDER BY key LIMIT k to TakeOrderedAndProject (per-partition heaps +
# driver merge of k*n_partitions rows), never a full sort. At 100 TB
# this is the one-pass weighted sampler: no RNG state, no seed
# plumbing, rerun-stable, and mergeable across days by unioning
# selected sets and re-taking the k smallest keys.

_RES_M = 1 << 24  # hash modulus: keeps ln((M+1)/(h+1)) <= ~16.6
_RES_K = 64


def _reservoir_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The race-key frame: (doc_id, n_chars, ln_micro, race_key) for
    every document — the narrow per-row map the reservoir top-k's over."""
    from .curation import _DET_LN_W, _DET_LN_Y, _DET_LN_Z, _DET_LN_Z2

    return (
        _docs(spark, sf_dir)
        .selectExpr(
            "doc_id",
            "n_chars",
            f"(doc_id * {_KNUTH}) % {_RES_M} AS h",
        )
        .selectExpr(
            "doc_id", "n_chars",
            f"CAST({_RES_M} + 1 AS DOUBLE) / CAST(h + 1 AS DOUBLE) AS ratio",
        )
        .selectExpr("doc_id", "n_chars", f"{_DET_LN_Y} AS y")
        .selectExpr("doc_id", "n_chars", f"{_DET_LN_Z} AS z")
        .selectExpr("doc_id", "n_chars", "z", f"{_DET_LN_Z2} AS z2")
        .selectExpr("doc_id", "n_chars", f"{_DET_LN_W} AS ln_micro")
        .selectExpr(
            "doc_id", "n_chars", "ln_micro",
            "CAST(ln_micro AS DOUBLE) / CAST(n_chars AS DOUBLE) AS race_key",
        )
    )


_RES_DAYS = 3


def q_sample_reservoir_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sample of ``_RES_K`` docs, computed as a fold
    over days (r7 verdict #6): the corpus is split into ``_RES_DAYS``
    disjoint "days" (a hash of doc_id, mimicking daily ingest
    partitions), each day keeps its own k-smallest-key reservoir
    (per-day window top-k — partitioned, parallel), and the day
    reservoirs are merged by re-taking the k smallest keys from their
    union (≤ days·k rows). Because each race key is a pure function of
    (doc_id, n_chars) — no RNG state — every global winner is
    necessarily a winner of its own day, so the fold is bit-equal to
    the single-pass ORDER BY ... LIMIT k of the DuckDB oracle
    (``_sql_sample_reservoir``). This is the property that lets a
    100 TB corpus be sampled day-by-day and folded: reservoir(A ∪ B) =
    merge(reservoir(A), reservoir(B))."""
    keyed = _reservoir_keyed(spark, sf_dir).withColumn(
        "day", F.expr(f"(doc_id * {_KNUTH}) % {_RES_DAYS}")
    )
    w = Window.partitionBy("day").orderBy(
        F.col("race_key").asc(), F.col("doc_id").asc()
    )
    per_day = (
        keyed.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= _RES_K)
        .drop("_rk", "day")
    )
    return (
        per_day.orderBy(F.col("race_key").asc(), F.col("doc_id").asc())
        .limit(_RES_K)
    )


def _sql_sample_reservoir() -> str:
    from .curation import _DET_LN_W, _DET_LN_Y, _DET_LN_Z, _DET_LN_Z2

    return f"""
SELECT doc_id, n_chars, ln_micro,
  CAST(ln_micro AS DOUBLE) / CAST(n_chars AS DOUBLE) AS race_key
FROM (
  SELECT doc_id, n_chars, {_DET_LN_W} AS ln_micro FROM (
    SELECT doc_id, n_chars, z, {_DET_LN_Z2} AS z2 FROM (
      SELECT doc_id, n_chars, {_DET_LN_Z} AS z FROM (
        SELECT doc_id, n_chars, {_DET_LN_Y} AS y FROM (
          SELECT doc_id, n_chars,
            CAST({_RES_M} + 1 AS DOUBLE) / CAST(h + 1 AS DOUBLE) AS ratio
          FROM (
            SELECT doc_id, n_chars, (doc_id * {_KNUTH}) % {_RES_M} AS h
            FROM documents
          )
        )
      )
    )
  )
)
ORDER BY race_key ASC, doc_id ASC
LIMIT {_RES_K}
"""


def register_all() -> None:
    register("sample_stratified", q_sample_stratified, SQL_SAMPLE_STRATIFIED)
    register("pack_sequences", q_pack_sequences, SQL_PACK_SEQUENCES)
    register("corpus_decontaminate", q_decontaminate, _decontaminate_sql())
    register("sample_split", q_sample_split, SQL_SAMPLE_SPLIT)
    # the single-pass oracle gates the merge identity
    # reservoir(∪ days) = merge(per-day reservoirs)
    register(
        "sample_reservoir_merged", q_sample_reservoir_merged, _sql_sample_reservoir()
    )
