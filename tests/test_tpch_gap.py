"""Non-vacuity and plan-shape pins for TPC-H Q9 (relational.py).

An overtightened predicate would let a query return ZERO rows — a
trivially-green query that exercises nothing. Q9's LIKE filter was
tuned to return rows at BOTH sf0.001 (this test) and sf0.01 (the
driver scale); this pins the sf0.001 half.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tests.conftest import SF_SMALL  # noqa: E402

from impala_base_to_cdw_sizing_spark.operators import relational  # noqa: E402

_GAP_QUERIES = [relational.q_tpch_q9]


@pytest.mark.parametrize("fn", _GAP_QUERIES, ids=[f.__name__ for f in _GAP_QUERIES])
def test_tpch_gap_query_is_nonvacuous(spark, fn):
    assert fn(spark, SF_SMALL).count() > 0


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_cartesian_products_in_gap_plans(spark):
    # every dimension join is a broadcast equi-join; a CartesianProduct
    # would be a scale-breaking plan regression
    for fn in _GAP_QUERIES:
        assert "CartesianProduct" not in _plan(fn(spark, SF_SMALL)), fn.__name__
