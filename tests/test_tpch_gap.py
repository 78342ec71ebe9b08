"""Non-vacuity pins for the TPC-H gap queries (tpch_gap.py).

An overtightened predicate would let a query return ZERO rows — a
trivially-green query that exercises nothing. Every adapted query was
tuned to return rows at BOTH sf0.001 (this test) and sf0.01 (the probe
scale); this pins the sf0.001 half.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tests.conftest import SF_SMALL  # noqa: E402

from impala_base_to_cdw_sizing_spark.operators import tpch_gap  # noqa: E402

_GAP_QUERIES = [
    tpch_gap.q_tpch_q2,
    tpch_gap.q_tpch_q8,
    tpch_gap.q_tpch_q9,
    tpch_gap.q_tpch_q11,
    tpch_gap.q_tpch_q12,
    tpch_gap.q_tpch_q14,
    tpch_gap.q_tpch_q15,
    tpch_gap.q_tpch_q16,
    tpch_gap.q_tpch_q17,
    tpch_gap.q_tpch_q20,
    tpch_gap.q_tpch_q21,
    tpch_gap.q_tpch_q22,
]


@pytest.mark.parametrize("fn", _GAP_QUERIES, ids=[f.__name__ for f in _GAP_QUERIES])
def test_tpch_gap_query_is_nonvacuous(spark, fn):
    assert fn(spark, SF_SMALL).count() > 0


def test_q17_filtered_lines_nonzero(spark):
    # q17 returns one row even when nothing passes the 0.3×avg filter
    # (a global agg over zero rows); pin that the filter admits lines.
    row = tpch_gap.q_tpch_q17(spark, SF_SMALL).collect()[0]
    assert row["n_lines"] > 0


def test_q14_promo_share_strictly_between_0_and_100(spark):
    row = tpch_gap.q_tpch_q14(spark, SF_SMALL).collect()[0]
    assert 0.0 < row["promo_pct"] < 100.0


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_cartesian_products_in_gap_plans(spark):
    # every crossJoin in the gap queries carries a 1-row scalar frame
    # (broadcast nested loop); a real CartesianProduct would be a
    # scale-breaking plan regression
    for fn in _GAP_QUERIES:
        assert "CartesianProduct" not in _plan(fn(spark, SF_SMALL)), fn.__name__


def test_q19_disjunction_pushes_common_conjuncts(spark):
    from impala_base_to_cdw_sizing_spark.operators.relational import q_tpch_q19

    plan = _plan(q_tpch_q19(spark, SF_SMALL))
    # the brand-set disjunction is extractable per side (Catalyst's
    # OR-of-ANDs extraction): the part scan's PushedFilters must carry
    # actual brand/size conjuncts — an empty "PushedFilters: []" means
    # the extraction regressed. Parse every scan's bracket contents and
    # require one non-empty set mentioning p_brand.
    pushed_sets = []
    rest = plan
    while "PushedFilters: [" in rest:
        rest = rest[rest.index("PushedFilters: [") + len("PushedFilters: [") :]
        pushed_sets.append(rest.split("]", 1)[0])
    assert any("p_brand" in p for p in pushed_sets), pushed_sets


def test_q21_aggregates_quantifiers_without_self_scan_explosion(spark):
    # the EXISTS/NOT-EXISTS pair compiles to per-order aggregates — the
    # lineitem scan appears a bounded number of times, not once per
    # quantifier nesting level
    plan = _plan(tpch_gap.q_tpch_q21(spark, SF_SMALL))
    assert plan.count("FileScan parquet") <= 6
    assert "CartesianProduct" not in plan
