"""Corpus mixture rebalancing over ``documents``.

- **domain-mixture resampling** (``mix_sources``): pretraining corpora
  are blended to TARGET proportions per source/domain, not ingested
  proportions (e.g. web crawl downsampled, books upsampled). The
  operator computes each source's available token mass, derives a
  deterministic keep-rate toward an equal-share token budget, and
  subsamples each source at its rate with the same Knuth-hash coin the
  stratified sampler uses — reproducible anywhere, no RNG state.
- **temperature sampling** (``mix_sources_temperature``): the same
  per-source summary with targets proportional to a tempered power of
  each source's token share.

Scale notes: the mixture plan is one aggregate + one broadcast join over
a single corpus scan (rates are a per-source scalar table); it never
self-joins the corpus. Rates come from exact integer token counts (the
temperature weights are square roots quantized to integer micro-units),
so they are bit-equal across Spark and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries_ext import register
from .sampling import _KNUTH, _M32  # the one shared deterministic coin
from .text import DUCK_TOKENS, SPARK_TOKENS
from ..sources.files import read_input


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_input(spark, sf_dir, "documents")


# --- domain-mixture resampling ---------------------------------------------------

# Target: an equal token share per source over half the corpus's total
# token mass — the "rebalance a skewed crawl" setting. Sources above
# their share are downsampled (rate < 1); sources at/below keep
# everything (rate capped at 1 — this operator never duplicates docs;
# upsampling is an epoch-weighting concern, not a selection one).
_BUDGET_FRAC = 0.5


def q_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture summary after deterministic rate subsampling.

    Output: one row per source with its available mass, target, exact
    keep-rate, and the realized post-sample doc/token counts. The
    per-doc keep decision is ``knuth(doc_id) < floor(rate * 2^32)`` —
    integer compare against a per-source threshold, so the realized
    counts pin the whole per-doc selection, not just the rates."""
    # materialized: the tokenized frame is read twice (rate derivation,
    # then the conditional-keep aggregation) — without it each pass
    # re-tokenizes the whole corpus (measured 5 scans / 10 exchanges
    # before; 3 scans / 6 exchanges after — the remaining pair is the
    # rate-derivation aggregates). localCheckpoint, not cache(): blocks
    # release on GC, so a registry-long session stays flat with no
    # manual unpersist.
    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", "source",
        f"CAST(size({SPARK_TOKENS}) AS BIGINT) AS n_tokens",
        f"(doc_id * {_KNUTH}) % {_M32} AS shuffle_key",
    ).localCheckpoint(eager=True)
    avail = docs.groupBy("source").agg(
        F.sum("n_tokens").alias("avail_tokens")
    )
    total = avail.agg(
        F.sum("avail_tokens").alias("total_tokens"),
        F.count("*").alias("n_sources"),
    )
    # CAST to DOUBLE before the fraction: both engines would otherwise
    # take bigint * 0.5 through DECIMAL with engine-specific scales
    # floor() explicitly before the BIGINT cast: Spark's CAST(double AS
    # BIGINT) truncates toward zero but DuckDB's rounds to nearest, so a
    # fractional part >= 0.5 (e.g. 6767.6 at sf0.1) diverges without it.
    # Values are non-negative, so floor == truncate on the Spark side.
    rates = avail.crossJoin(F.broadcast(total)).selectExpr(
        "source",
        f"CAST(floor(CAST(total_tokens AS DOUBLE) * {_BUDGET_FRAC} / n_sources)"
        " AS BIGINT) AS target_tokens",
        f"least(CAST(1.0 AS DOUBLE), (CAST(total_tokens AS DOUBLE)"
        f" * {_BUDGET_FRAC} / n_sources) / avail_tokens) AS keep_rate",
    )
    # one conditional aggregation replaces the filter + second join: the
    # kept/available stats fall out of the same per-source pass
    keep = F.col("shuffle_key") < F.floor(
        F.col("keep_rate") * F.lit(float(_M32))
    ).cast("long")
    return (
        docs.join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("avail_tokens"),
            F.first("target_tokens").alias("target_tokens"),
            F.first("keep_rate").alias("keep_rate"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(keep, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("tokens_kept"),
        )
        .select(
            "source", "n_docs", "avail_tokens", "target_tokens", "keep_rate",
            "n_kept", "tokens_kept",
        )
    )


SQL_MIX_SOURCES = f"""
WITH docs AS (
  SELECT doc_id, source,
    CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_tokens,
    (doc_id * {_KNUTH}) % {_M32} AS shuffle_key
  FROM documents
),
avail AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS avail_tokens,
    COUNT(*) AS n_docs
  FROM docs GROUP BY source
),
total AS (
  SELECT CAST(SUM(avail_tokens) AS BIGINT) AS total_tokens,
    COUNT(*) AS n_sources
  FROM avail
),
rates AS (
  -- CAST to DOUBLE before the fraction: DuckDB would otherwise run
  -- bigint * 0.5 in DECIMAL and round differently from Spark's double
  SELECT source, avail_tokens, n_docs,
    -- explicit floor(): DuckDB's double->BIGINT cast rounds to nearest
    -- while Spark's truncates; floor in both keeps them bit-equal for
    -- any fractional part (values are non-negative)
    CAST(floor(CAST(total_tokens AS DOUBLE) * {_BUDGET_FRAC} / n_sources) AS BIGINT)
      AS target_tokens,
    least(CAST(1.0 AS DOUBLE),
      (CAST(total_tokens AS DOUBLE) * {_BUDGET_FRAC} / n_sources)
        / avail_tokens) AS keep_rate
  FROM avail, total
),
kept AS (
  SELECT d.source, COUNT(*) AS n_kept,
    CAST(SUM(d.n_tokens) AS BIGINT) AS tokens_kept
  FROM docs d JOIN rates r ON d.source = r.source
  WHERE d.shuffle_key < CAST(floor(r.keep_rate * {float(_M32)}) AS BIGINT)
  GROUP BY d.source
)
SELECT r.source, r.n_docs, r.avail_tokens, r.target_tokens, r.keep_rate,
  COALESCE(k.n_kept, 0) AS n_kept,
  COALESCE(k.tokens_kept, 0) AS tokens_kept
FROM rates r LEFT JOIN kept k ON r.source = k.source
"""


# --- temperature-scaled mixture (alpha = 0.5 upsampling) ---------------------------
#
# Equal-share targets starve nothing but also upweight nothing; the
# multilingual/data-recipe standard (mC4, XLM-R, LLaMA pretraining
# mixes) samples source i with probability proportional to
# mass_i^alpha, alpha < 1, which boosts low-resource sources relative
# to their raw share. alpha = 0.5 keeps the whole computation exactly
# portable: sqrt is IEEE-correctly-rounded in both engines (the one
# transcendental with that guarantee — the DSIR ln case is NOT, see
# curation.py), and the sqrt weights are immediately quantized to
# integer micro-units so the normalizing SUM is an exact integer, never
# an order-dependent float sum.


def q_mix_sources_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture summary under temperature sampling: target_i ∝
    sqrt(avail_i), same deterministic keep-coin as ``mix_sources``. The
    ``share_boost`` column (temperature share / raw share) is > 1 exactly
    for the below-average-mass sources — the upsampling, made visible."""
    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", "source",
        f"CAST(size({SPARK_TOKENS}) AS BIGINT) AS n_tokens",
        f"(doc_id * {_KNUTH}) % {_M32} AS shuffle_key",
    ).localCheckpoint(eager=True)
    avail = docs.groupBy("source").agg(
        F.sum("n_tokens").alias("avail_tokens"),
        F.count("*").alias("n_docs"),
    ).selectExpr(
        "source", "avail_tokens", "n_docs",
        "CAST(floor(sqrt(CAST(avail_tokens AS DOUBLE)) * 1000000 + 0.5)"
        " AS BIGINT) AS w_micro",
    )
    total = avail.agg(
        F.sum("avail_tokens").alias("total_tokens"),
        F.sum("w_micro").alias("w_sum"),
    )
    rates = avail.crossJoin(F.broadcast(total)).selectExpr(
        "source", "avail_tokens", "n_docs",
        "w_micro / CAST(w_sum AS DOUBLE) AS temp_share",
        "avail_tokens / CAST(total_tokens AS DOUBLE) AS raw_share",
        f"CAST(floor(CAST(total_tokens AS DOUBLE) * {_BUDGET_FRAC}"
        " * (w_micro / CAST(w_sum AS DOUBLE))) AS BIGINT) AS target_tokens",
        f"least(CAST(1.0 AS DOUBLE), CAST(total_tokens AS DOUBLE)"
        f" * {_BUDGET_FRAC} * (w_micro / CAST(w_sum AS DOUBLE))"
        " / avail_tokens) AS keep_rate",
    )
    keep = F.col("shuffle_key") < F.floor(
        F.col("keep_rate") * F.lit(float(_M32))
    ).cast("long")
    return (
        docs.join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.first("avail_tokens").alias("avail_tokens"),
            F.first("target_tokens").alias("target_tokens"),
            F.first("keep_rate").alias("keep_rate"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(keep, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("tokens_kept"),
            F.first("temp_share").alias("temp_share"),
            F.first("raw_share").alias("raw_share"),
        )
        .selectExpr(
            "source", "n_docs", "avail_tokens", "target_tokens", "keep_rate",
            "n_kept", "tokens_kept",
            # both shares are exact-integer divides (w_micro/w_sum,
            # avail/total), so the ratio is one correctly-rounded double
            # division in either engine — safe to emit cross-engine
            "temp_share / raw_share AS share_boost",
            "temp_share / raw_share > 1.0 AS boosted",
        )
    )


SQL_MIX_TEMPERATURE = f"""
WITH docs AS (
  SELECT doc_id, source,
    CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_tokens,
    (doc_id * {_KNUTH}) % {_M32} AS shuffle_key
  FROM documents
),
avail AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS avail_tokens,
    COUNT(*) AS n_docs,
    CAST(floor(sqrt(CAST(SUM(n_tokens) AS DOUBLE)) * 1000000 + 0.5)
      AS BIGINT) AS w_micro
  FROM docs GROUP BY source
),
total AS (
  SELECT CAST(SUM(avail_tokens) AS BIGINT) AS total_tokens,
    CAST(SUM(w_micro) AS BIGINT) AS w_sum
  FROM avail
),
rates AS (
  SELECT source, avail_tokens, n_docs,
    w_micro / CAST(w_sum AS DOUBLE) AS temp_share,
    avail_tokens / CAST(total_tokens AS DOUBLE) AS raw_share,
    CAST(floor(CAST(total_tokens AS DOUBLE) * {_BUDGET_FRAC}
      * (w_micro / CAST(w_sum AS DOUBLE))) AS BIGINT) AS target_tokens,
    least(CAST(1.0 AS DOUBLE), CAST(total_tokens AS DOUBLE)
      * {_BUDGET_FRAC} * (w_micro / CAST(w_sum AS DOUBLE))
      / avail_tokens) AS keep_rate
  FROM avail, total
),
kept AS (
  SELECT d.source, COUNT(*) AS n_kept,
    CAST(SUM(d.n_tokens) AS BIGINT) AS tokens_kept
  FROM docs d JOIN rates r ON d.source = r.source
  WHERE d.shuffle_key < CAST(floor(r.keep_rate * {float(_M32)}) AS BIGINT)
  GROUP BY d.source
)
SELECT r.source, r.n_docs, r.avail_tokens, r.target_tokens, r.keep_rate,
  COALESCE(k.n_kept, 0) AS n_kept,
  COALESCE(k.tokens_kept, 0) AS tokens_kept,
  r.temp_share / r.raw_share AS share_boost,
  r.temp_share / r.raw_share > 1.0 AS boosted
FROM rates r LEFT JOIN kept k ON r.source = k.source
"""


def register_all() -> None:
    register("mix_sources", q_mix_sources, SQL_MIX_SOURCES)
    register(
        "mix_sources_temperature", q_mix_sources_temperature, SQL_MIX_TEMPERATURE
    )
