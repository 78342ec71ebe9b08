"""End-to-end sizing pipeline (the reference's EP2 replay lifecycle,
SURVEY.md §3): ingest → derive → classify → route → aggregate → sweep →
report values.

One cached derived DataFrame fans out to all branches — the derive block
runs once, every downstream branch is a filter/aggregate over it
(mirrors the reference's single row loop feeding multiple sinks).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..config import SizingParams
from ..operators.classify import classify
from ..operators.route import RoutedPlan, route
from ..operators.sweep import explode_events, sweep_maxima


@dataclass
class SizingResult:
    """The pipeline's branches. The G-values are not a field: the report
    reads them with one aggregate over ``routed.derived``
    (``aggregates.report_aggregate``)."""

    routed: RoutedPlan
    classified_kept: DataFrame
    sweep_maxima: DataFrame     # single row (F4)


def prepare_query_history(flat: DataFrame) -> DataFrame:
    """Boundary adapter: ISO-string timestamps (API/replay form) → the
    engine's epoch-millis interval columns + a deterministic ``seq``
    ordering key (SURVEY §7.3.3: one canonical internal schema, two
    boundary adapters).

    ``seq`` only has to be a deterministic total tie-break for the sweep
    and argmax — it is derived per-row as ``xxhash64(query_id)``
    (query_id is unique), NOT a global ``row_number()`` window, which
    would collapse every ingest to a single partition. Shuffle-free and
    partitioning-independent."""
    from pyspark.sql import functions as F

    return flat.withColumns(
        {
            "start_ms": F.unix_millis(F.to_timestamp("start_time")),
            "end_ms": F.unix_millis(F.to_timestamp("end_time")),
            "admission_wait": F.col("admission_wait").cast("long"),
            "num_backends": F.col("num_backends").cast("long"),
            "seq": F.xxhash64("query_id"),
        }
    )


def run_api_sizing(
    spark,
    params: SizingParams,
    fetcher=None,
) -> SizingResult:
    """EP1: the reference's API-mode program (``impala_query_sizing.py:
    309-341``) — paged CM fetch → flatten → the shared sizing pipeline.

    ``fetcher`` is injectable (tests drive a loopback ``http.server``);
    by default it is the production ``requests_fetcher`` built from the
    params' CM connection fields. Everything downstream of the flatten is
    the SAME code path as EP2 replay, so EP1 ≡ EP2 on equivalent data is
    structural — pinned end-to-end in tests/test_ep1_e2e.py.
    """
    from ..sources.cm_api import (
        flatten_api_docs,
        load_api_queries,
        requests_fetcher,
    )

    if fetcher is None:
        fetcher = requests_fetcher(
            params.cm_url, params.cluster_name,
            params.user_name, params.password,
        )
    docs = load_api_queries(
        spark, fetcher, params.from_date, params.to_date, params.pool or None
    )
    qh = prepare_query_history(flatten_api_docs(docs))
    return run_sizing(qh, params)


def run_sizing(query_history: DataFrame, params: SizingParams) -> SizingResult:
    routed = route(query_history, params)
    # sweep_maxima caches the exploded events itself: its eager
    # bucket-bounds pass materializes them, and the cached derived table
    # under them, before the report reads both
    return SizingResult(
        routed=routed,
        classified_kept=classify(routed.kept),
        sweep_maxima=sweep_maxima(explode_events(routed.kept)),
    )
