"""Hypothesis property tests: classification and as-of join against pure
Python models (one Spark job over a generated batch per example set, so
runtime stays bounded)."""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st

import pytest
from pyspark.sql import functions as F

from impala_base_to_cdw_sizing_spark.operators.classify import tsize_case_sql
from impala_base_to_cdw_sizing_spark.schemas import SIZE_BUCKET_ROWS

_POD_BUCKETS = [(lo, hi, lab) for d, lo, hi, lab in SIZE_BUCKET_ROWS if d == "pods"]


def model_get_tsize(x: float) -> str | None:
    """Reference semantics (impala_query_sizing.py:71-84)."""
    r = int(math.ceil(x))
    for lo, hi, label in _POD_BUCKETS:
        if lo <= r <= hi:
            return label
    return None


# module-level so the pytest spark fixture can be injected once
_SPARK = None


def test_tsize_expr_matches_python_model(spark):
    global _SPARK
    _SPARK = spark

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(
            st.floats(
                min_value=0.0,
                max_value=2000.0,
                allow_nan=False,
                allow_infinity=False,
            ),
            min_size=1,
            max_size=200,
        )
    )
    def check(xs):
        df = _SPARK.createDataFrame([(x,) for x in xs], "x double")
        got = [
            r.label
            for r in df.select(F.expr(tsize_case_sql("x")).alias("label")).collect()
        ]
        want = [model_get_tsize(x) for x in xs]
        assert got == want

    check()


@pytest.mark.slow  # re-tiered r15: driver gate = fast tier; this test's coverage stays in the release gate (pytest -m "")
def test_sweep_concurrency_property(spark):
    """Max concurrency from the engine sweep equals brute-force interval
    overlap on hypothesis-generated intervals."""
    from impala_base_to_cdw_sizing_spark.operators.sweep import (
        explode_events,
        sweep_maxima,
    )

    global _SPARK
    _SPARK = spark

    schema = (
        "seq long, start_ms long, end_ms long, admission_wait long, "
        "num_backends long, reqd_cache_gb double, reqd_agg_mem double, "
        "memory_spilled_gb double, avg_vcores double, avg_data_rate double, "
        "min_executor_pod_raw double"
    )

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=1000),  # start
                st.integers(min_value=1, max_value=500),  # duration
            ),
            min_size=1,
            max_size=60,
        )
    )
    def check(intervals):
        rows = [
            (i, s, s + d, 0, 1, 1.0, 1.0, 0.0, 1.0, 1.0, 1.0)
            for i, (s, d) in enumerate(intervals)
        ]
        kept = _SPARK.createDataFrame(rows, schema)
        got = sweep_maxima(explode_events(kept)).collect()[0]
        # brute force replicating the engine's total order exactly:
        # (ts, seq, sign DESC) — start before end only within a (ts, seq)
        events = sorted(
            [(s, i, -1 * -1) for i, (s, d) in enumerate(intervals)]
            + [(s + d, i, -1) for i, (s, d) in enumerate(intervals)],
            key=lambda e: (e[0], e[1], -e[2]),
        )
        cur = best = 0
        for _, _, delta in events:
            cur += delta
            best = max(best, cur) if delta > 0 else best
        assert got.max_concurrent_queries == best

    check()
