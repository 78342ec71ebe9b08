"""Behavioral pins for the ANALYZE stats pass (the ANALYZE
pass has no registered oracle). The min/max bug class this guards: casting to string
BEFORE aggregating makes numeric bounds lexicographic, and a mirrored
oracle agrees with the wrong answer — so the true bounds are recomputed
here independently and compared as numbers.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tests.conftest import SF_SMALL  # noqa: E402

from impala_base_to_cdw_sizing_spark.operators.profiling import (  # noqa: E402
    q_analyze_stats,
)


def test_numeric_bounds_are_true_min_max(spark):
    from pyspark.sql import functions as F

    rows = {r["col_name"]: r for r in q_analyze_stats(spark, SF_SMALL).collect()}
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    truth = orders.agg(
        F.min("o_totalprice"), F.max("o_totalprice"),
        F.min("o_custkey"), F.max("o_custkey"),
    ).collect()[0]
    tp = rows["o_totalprice"]
    assert tp["min_num"] == truth[0]
    assert tp["max_num"] == truth[1]
    assert tp["min_num"] < tp["max_num"]
    assert tp["min_value"] is None  # numeric bounds are typed, not strings
    ck = rows["o_custkey"]
    assert int(ck["min_num"]) == truth[2]
    assert int(ck["max_num"]) == truth[3]
    # string-family bounds stay strings, numeric slots null
    st = rows["o_orderstatus"]
    assert isinstance(st["min_value"], str) and st["min_num"] is None
    # every profiled column verified its NDV estimate and counted rows
    for r in rows.values():
        assert r["ndv_within_10pct"] == 1
        assert r["n_nulls"] == 0
        assert r["exact_ndv"] > 0


def test_one_scan_shape(spark):
    """The production stats (nulls/min/max/approx NDV for ALL columns)
    must come from ONE aggregate over one scan; only the test-only exact
    NDVs may add scans. 4 exact-NDV aggregates + 1 shared scan = 5."""
    plan = (
        q_analyze_stats(spark, SF_SMALL)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("FileScan parquet") <= 5
