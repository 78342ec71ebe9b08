"""Skew-mitigation utilities — salting for hot join/aggregation keys.

AQE's skew-join handling (on by default in ``session.build_spark``) covers
sort-merge joins at runtime; explicit salting remains necessary for (a)
hot-key *aggregations* whose partial aggregates still funnel one key to one
reducer's final agg when the key's cardinality is tiny, and (b) joins
against a replicable right side where AQE cannot split (e.g. unsplittable
UDF-heavy stages). These helpers implement the standard two-step:

- :func:`salted_agg`: key → (key, salt) partial agg → key final agg. The
  first shuffle spreads the hot key over ``n_salts`` reducers; the second
  aggregates ``n_salts`` rows per key.
- :func:`salted_join`: left side salted randomly, right side exploded
  ``n_salts``× so every (key, salt) pair matches — right side must be the
  small/replicable side.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: Callable[[DataFrame], list[Column]],
    combine: Callable[[DataFrame], list[Column]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation over a salted key.

    ``aggs(df)`` builds the partial aggregate columns; ``combine`` merges
    the per-salt partials (e.g. partial ``sum`` → ``sum``, partial
    ``count`` → ``sum``, partial ``max`` → ``max``).
    """
    salted = df.withColumn(
        "_salt", (F.rand(seed=42) * n_salts).cast("int")
    )
    partial = salted.groupBy(key, "_salt").agg(*aggs(salted))
    return partial.groupBy(key).agg(*combine(partial))


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``left[key]`` is skewed: left rows get a random
    salt, right rows are replicated once per salt value, and the join key
    becomes (key, salt) — the hot key's rows spread over ``n_salts``
    partitions. ``right`` must be small enough to replicate ``n_salts``×.
    """
    l_salted = left.withColumn("_salt", (F.rand(seed=42) * n_salts).cast("int"))
    r_exploded = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = l_salted.join(r_exploded, [key, "_salt"], how)
    return out.drop("_salt")


# --- end-to-end oracle proof ----------------------------------------------------


def q_skew_join_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join exercised against a genuinely hot key: ``events`` has a
    handful of event types, so a plain repartition-by-key join lands every
    row of a type on one reducer. Enrich each event with its per-type
    totals via :func:`salted_join` — each left row matches exactly one
    exploded right row (its salt), so the result set is salt-independent
    and a plain SQL join is the oracle (the equality IS the proof that
    salting changes the partitioning, never the answer)."""
    from ..sources.files import load_events

    from .aggregates import dsum

    ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")
    dim = ev.groupBy("event_type").agg(
        F.count("*").alias("type_n"),
        dsum(F.col("value")).alias("type_sum"),
    )
    return salted_join(ev, dim, key="event_type").select(
        "event_id", "event_type", "value", "type_n", "type_sum"
    )


def _sql_skew_join_hot() -> str:
    from .aggregates import dsum_sql

    return f"""
WITH dim AS (
  SELECT event_type, COUNT(*) AS type_n, {dsum_sql("value")} AS type_sum
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value, d.type_n, d.type_sum
FROM events e JOIN dim d USING (event_type)
"""


def register_all() -> None:
    from .queries_ext import register

    register("skew_join_hot", q_skew_join_hot, _sql_skew_join_hot())
