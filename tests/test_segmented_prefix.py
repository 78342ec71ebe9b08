"""Hypothesis properties of the segmented prefix primitive
(``segmented.bucket_carry`` / ``segmented.segmented_cumsum``): on
arbitrary inputs it must equal a plain Python running sum over the full
order — ties on the leading order column, negative and gapped bucket
ids, one bucket, no rows, with and without a key column, for BIGINT and
DECIMAL(38,0) measures."""

from __future__ import annotations

from decimal import Decimal

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from impala_base_to_cdw_sizing_spark.operators.segmented import (
    bucket_carry,
    segmented_cumsum,
)

_LONG = st.integers(min_value=-(10**12), max_value=10**12)
_DEC = st.integers(min_value=-(10**30), max_value=10**30)

_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _frame(spark, rows, schema, decimal):
    if decimal:
        rows = [(*r[:-1], Decimal(r[-1])) for r in rows]
    return spark.createDataFrame(rows, schema)


@st.composite
def _cumsum_case(draw):
    decimal = draw(st.booleans())
    n = draw(st.integers(min_value=0, max_value=30))
    rows = [
        (
            i,
            draw(st.integers(min_value=0, max_value=2)),  # key
            draw(st.integers(min_value=-12, max_value=12)),  # lead: many ties
            draw(_DEC if decimal else _LONG),
        )
        for i in range(n)
    ]
    # width 1000 puts every row in one bucket; gap spreads bucket ids apart
    width = draw(st.sampled_from([1, 3, 1000]))
    gap = draw(st.sampled_from([1, 5]))
    return (
        rows,
        decimal,
        width,
        gap,
        draw(st.booleans()),  # descending lead
        draw(st.booleans()),  # keyed
    )


@_SETTINGS
@given(_cumsum_case())
@example(case=([], True, 1, 1, False, True))  # no rows
# one bucket, all rows tied on the leading column
@example(
    case=([(0, 0, 5, 7), (1, 1, 5, -3), (2, 0, 5, 4)], False, 1000, 1, True, False)
)
def test_segmented_cumsum_equals_python_running_sum(spark, case):
    rows, decimal, width, gap, desc, keyed = case
    df = _frame(
        spark,
        rows,
        f"id LONG, k INT, lead INT, v {'DECIMAL(38,0)' if decimal else 'LONG'}",
        decimal,
    )
    # ordering-consistent buckets: a monotone quantization of lead,
    # negated when lead sorts descending (negative ids)
    q = f"floor(lead / {width}) * {gap}"
    df = df.withColumn("b", F.expr(f"-({q})" if desc else q).cast("long"))
    lead = F.col("lead").desc() if desc else F.col("lead").asc()
    # the output replaces the summed column itself
    got = {
        r.id: int(r.v)
        for r in segmented_cumsum(
            df,
            "b",
            [lead, F.col("id").asc()],
            {"v": F.col("v")},
            keys=["k"] if keyed else [],
        ).collect()
    }

    ordered = sorted(rows, key=lambda r: (-r[2] if desc else r[2], r[0]))
    running: dict[int, int] = {}
    want = {}
    for i, k, _, v in ordered:
        grp = k if keyed else None
        running[grp] = running.get(grp, 0) + v
        want[i] = running[grp]
    assert got == want


@st.composite
def _carry_case(draw):
    decimal = draw(st.booleans())
    keyed = draw(st.booleans())
    cells = draw(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2) if keyed else st.just(0),
                st.integers(min_value=-40, max_value=40),  # bucket id, gaps
            ),
            max_size=20,
            unique=True,
        )
    )
    rows = [(k, b, draw(_DEC if decimal else _LONG)) for k, b in cells]
    return rows, decimal, keyed


@_SETTINGS
@given(_carry_case())
@example(case=([], False, False))
@example(case=([(0, -3, 10**30)], True, False))
def test_bucket_carry_equals_python_exclusive_prefix(spark, case):
    rows, decimal, keyed = case
    totals = _frame(
        spark,
        rows,
        f"k INT, b LONG, s {'DECIMAL(38,0)' if decimal else 'LONG'}",
        decimal,
    )
    got = {
        (r.k, r.b): (int(r.s), int(r.carry_s))
        for r in bucket_carry(
            totals, "b", ["s"], keys=["k"] if keyed else []
        ).collect()
    }
    want = {
        (k, b): (
            s,
            sum(s2 for k2, b2, s2 in rows if b2 < b and (k2 == k or not keyed)),
        )
        for k, b, s in rows
    }
    assert got == want
