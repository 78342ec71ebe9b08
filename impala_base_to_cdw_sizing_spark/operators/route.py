"""Filters and conditional multi-sink routing — SURVEY.md §2.D (D1-D4).

The reference routes rows imperatively with ``continue``; here routing is
plan structure: one cached derived DataFrame, several ``filter`` branches.
Catalyst pushes each branch's predicate to the shared scan, and the cache
means the expensive derive runs once. At scale, the split is
shuffle-free (pure predicates).

Routes (``/root/reference/impala_query_sizing.py``):
- D1 skip route   (:197-200): missing ``memory_aggregate_peak`` → skipped
  sink, excluded from everything else. Synthetic inputs carry this as the
  ``has_mem_metric`` flag.
- D2 pool filter  (:211-216): optional equality filter; rows passing it
  are counted in ``total_queries`` *before* pruning (G1 semantics).
- D4 server-side predicates (:139-141): ``queryType = 'QUERY'`` and the
  time window — expressed as ordinary filters for file inputs, pushed to
  the parquet scan by Catalyst.
- D3 prune route  (:262-269): ``min_executor_pod > pod_limit`` → pruned
  sink, excluded from all downstream aggregates and sweep events.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import SizingParams
from .derive import derive


def accepted_filter(df: DataFrame, params: SizingParams) -> DataFrame:
    """D2 + D4: query-type and optional pool filter (pre-derive)."""
    out = df.filter(F.col("query_type") == "QUERY")
    if params.pool:
        out = out.filter(F.col("pool") == params.pool)
    return out


def skip_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """D1: (with-metrics, skipped). ``has_mem_metric`` stands in for the
    API-mode presence of ``attributes.memory_aggregate_peak``."""
    if "has_mem_metric" not in df.columns:
        return df, df.limit(0)
    return (
        df.filter(F.col("has_mem_metric")),
        df.filter(~F.col("has_mem_metric")),
    )


def prune_split(derived: DataFrame, params: SizingParams) -> tuple[DataFrame, DataFrame]:
    """D3: (kept, pruned) on the derived table. Pruned rows still count in
    ``total_queries`` (increment at :215 precedes the prune at :262) but
    feed no aggregate, event, or report."""
    pruned_cond = F.col("min_executor_pod") > params.pod_limit
    return derived.filter(~pruned_cond), derived.filter(pruned_cond)


@dataclass
class RoutedPlan:
    """The reference's full routing fan-out as named DataFrame branches."""

    skipped: DataFrame   # D1 diversions
    kept: DataFrame      # derived, within pod limit → aggregates + sweep
    pruned: DataFrame    # derived, over pod limit → pruned sink only
    derived: DataFrame   # the cached pre-prune derived table (one row per
    # accepted query; G1 counts read it to stay on the cache instead of
    # re-deriving the source)


def route(df: DataFrame, params: SizingParams) -> RoutedPlan:
    """Full D1→D2→derive→D3 fan-out."""
    filtered = accepted_filter(df, params)
    with_metrics, skipped = skip_split(filtered)
    # cached for the kept/pruned fan-out + downstream aggregates;
    # lifetime: the EP2 pipeline run — released by the caller's
    # clearCache (CLI/harness) or session end
    derived = derive(with_metrics, params).cache()
    kept, pruned = prune_split(derived, params)
    return RoutedPlan(skipped=skipped, kept=kept, pruned=pruned, derived=derived)
