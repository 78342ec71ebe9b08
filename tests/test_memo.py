"""The memo registry: every memo owner stores into one flat dict, and one
``clear()`` empties it."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def test_clear_empties_every_owner(spark):
    from impala_base_to_cdw_sizing_spark import memo
    from impala_base_to_cdw_sizing_spark.operators import kmeans, text
    from impala_base_to_cdw_sizing_spark.sources import files
    from impala_base_to_cdw_sizing_spark.sources.synthetic import (
        query_history_from_events,
    )

    memo.clear()
    qh = query_history_from_events(spark, SF_SMALL)
    assert query_history_from_events(spark, SF_SMALL) is qh  # served by the memo
    files._scan_fanout(f"{SF_SMALL}/events.parquet", 4)
    text._bpe_trained_converged(spark, SF_SMALL, target=1)
    kmeans.q_kmeans_assignments(spark, SF_SMALL)

    assert {key[0] for key in memo.MEMO} == {"qh", "fanout", "bpe", "centroids"}
    memo.clear()
    assert memo.MEMO == {}
    assert query_history_from_events(spark, SF_SMALL) is not qh
    memo.clear()
    spark.catalog.clearCache()
