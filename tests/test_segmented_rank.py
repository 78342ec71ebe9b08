"""Segmented global rank (r7 verdict #1): the three remaining
single-sort extras — equi-depth histogram, DSIR selection, quality
strata — now register segmented primaries built on
``segmented.segmented_row_number`` + ``segmented.ntile_expr``. These
tests pin (1) bit-equality of each segmented query with its sequential
one-window DuckDB oracle on the real tables, (2) the NTILE closed-form
split against Spark's own NTILE on adversarial sizes (n < k,
n % k ≠ 0, ties), and (3) the structural claim itself: the segmented
plans contain ZERO partition-less Window nodes.
"""

from __future__ import annotations

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from impala_base_to_cdw_sizing_spark.operators import curation, profiling
from impala_base_to_cdw_sizing_spark.operators.segmented import (
    ntile_expr,
    segmented_row_number,
)
from tests.conftest import SF_SMALL
from tools.compare_oracle import compare_frames, duck_connection


def global_window_count(df) -> int:
    """Count partition-less Window nodes in the optimized logical plan —
    the exact shape that moves all data to one partition at scale."""
    stack = [df._jdf.queryExecution().optimizedPlan()]
    n = 0
    while stack:
        node = stack.pop()
        if (
            node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().isEmpty()
        ):
            n += 1
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return n


# each segmented query with its sequential (one global window) oracle
_PAIRS = [
    (profiling.q_equidepth_histogram_segmented, profiling.SQL_EQUIDEPTH),
    (curation.q_sample_importance_segmented, curation.SQL_SAMPLE_IMPORTANCE),
    (curation.q_quality_strata_segmented, curation._sql_quality_strata()),
]


def test_segmented_bit_equal_to_sequential(spark):
    con = duck_connection(SF_SMALL)
    for seg, sequential_sql in _PAIRS:
        issues = compare_frames(
            seg.__name__,
            seg(spark, SF_SMALL).toPandas(),
            con.execute(sequential_sql).fetch_df(),
        )
        assert not issues, (seg.__name__, issues)


def test_segmented_primaries_have_no_global_window(spark):
    for seg, _ in _PAIRS:
        assert global_window_count(seg(spark, SF_SMALL)) == 0, seg.__name__


def test_ntile_closed_form_matches_spark_ntile(spark):
    # adversarial sizes: n < k, n = k, n % k = 0, n % k ≠ 0; with ties in
    # the value column (rank tiebreak on id keeps the total order exact)
    for n, k in [(3, 8), (8, 8), (40, 8), (41, 8), (45, 8), (1, 10)]:
        df = spark.range(n).selectExpr("id", "id % 5 AS v")
        w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
        expected = df.withColumn("t", F.ntile(k).over(w)).selectExpr(
            "id", "CAST(t AS BIGINT) AS t"
        )
        # segmented path: coarse bucket on v (monotone quantization of
        # the leading order column), closed-form tile from the rank
        ranked = segmented_row_number(
            df.withColumn("bucket", F.col("v").cast("int")),
            [F.col("v").asc(), F.col("id").asc()],
        )
        got = ranked.selectExpr(
            "id", f"CAST({ntile_expr('grank', str(n), k)} AS BIGINT) AS t"
        )
        assert sorted(got.collect()) == sorted(expected.collect()), (n, k)


@pytest.mark.slow  # re-tiered r15: driver gate = fast tier; this test's coverage stays in the release gate (pytest -m "")
def test_segmented_rank_fuzz_random_values_and_quantizations(spark):
    """Property: for ARBITRARY integer values and ANY monotone coarse
    quantization (value DIV span), segmented rank == the global
    row_number — including heavy ties, empty buckets, negative values,
    and span 1 (every value its own bucket) / huge span (one bucket).
    Hypothesis hunts the boundary the hand-picked cases miss."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        vals=st.lists(
            st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=60
        ),
        span=st.integers(min_value=1, max_value=700),
    )
    def inner(vals, span):
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "id long, v long"
        ).withColumn(
            # floor-div quantization is monotone, so ordering-consistent
            "bucket",
            (F.floor(F.col("v") / span)).cast("int"),
        )
        got = {
            r.id: r.grank
            for r in segmented_row_number(
                df, [F.col("v").asc(), F.col("id").asc()]
            ).collect()
        }
        order = sorted(range(len(vals)), key=lambda i: (vals[i], i))
        expected = {i: rk + 1 for rk, i in enumerate(order)}
        assert got == expected

    inner()


def test_segmented_row_number_empty_and_single_bucket(spark):
    empty = spark.range(0).selectExpr("id", "CAST(0 AS INT) AS bucket")
    assert segmented_row_number(empty, [F.col("id").asc()]).count() == 0
    one = spark.range(7).selectExpr("id", "CAST(0 AS INT) AS bucket")
    rows = segmented_row_number(one, [F.col("id").desc()]).collect()
    assert {r.id: r.grank for r in rows} == {i: 7 - i for i in range(7)}


# r14: the allowlist is EMPTY — skyline's global pass (the last primary
# window over a "provably bounded" intermediate) went segmented after
# the r13 verdict observed a 2-D frontier is O(n) on anti-correlated
# data, so every primary is now window-clean with zero exceptions.
# Adding a name here requires a documented bounded-input proof
# with an adversarial fixture (the bar rel_skyline failed).
_BOUNDED_INPUT_WINDOWS: set[str] = set()


@pytest.mark.slow  # full-registry plan sweep (~2 min alone) — the
# release gate re-runs it; the default tier keeps the per-family and
# declared-tier guards
def test_registry_primaries_have_no_global_window(spark):
    """Registry-wide structural guard (r7 verdict #1): no registered
    primary query plans a partition-less Window — the shape that moves
    all data to one partition at 100 TB. Full-registry sweep; plan
    construction only (driver actions some plans embed run at sf0.001).
    """
    import __spark_entry__ as ent

    offenders = {}
    for name, fn in sorted(ent.queries().items()):
        if name in _BOUNDED_INPUT_WINDOWS:
            continue
        n = global_window_count(fn(spark, SF_SMALL))
        if n:
            offenders[name] = n
    assert not offenders, offenders


def test_reservoir_merge_identity(spark):
    """r7 verdict #6: reservoir(∪ days) = merge(per-day reservoirs),
    bit-for-bit — the property that lets a 100 TB corpus be sampled
    day-by-day and folded. The single-pass reservoir is the DuckDB
    oracle's ORDER BY race_key LIMIT k."""
    from impala_base_to_cdw_sizing_spark.operators import sampling

    single = duck_connection(SF_SMALL).execute(
        sampling._sql_sample_reservoir()
    ).fetchall()
    merged = sampling.q_sample_reservoir_merged(spark, SF_SMALL).collect()
    assert len(single) == sampling._RES_K
    assert [tuple(r) for r in single] == [tuple(r) for r in merged]
    # and the merge is genuinely a fold over non-trivial day splits
    days = (
        sampling._reservoir_keyed(spark, SF_SMALL)
        .selectExpr(f"(doc_id * {sampling._KNUTH}) % {sampling._RES_DAYS} AS day")
        .distinct()
        .count()
    )
    assert days == sampling._RES_DAYS
