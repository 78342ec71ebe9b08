"""Approx-aggregate tolerance and as-of join semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from impala_base_to_cdw_sizing_spark.operators.asof import merge_asof
from impala_base_to_cdw_sizing_spark.operators.olap_extra import q_approx_distinct

from tests.conftest import SF_ORACLE


def test_approx_distinct_within_tolerance(spark):
    # the query itself pins sketch-vs-exact tolerance as boolean columns
    # (oracle asserts literal 1); re-check the flags at the larger sf too
    est = q_approx_distinct(spark, SF_ORACLE).collect()[0]
    assert est.parts_within_5pct == 1
    assert est.orders_within_5pct == 1
    assert est.median_within_2pct == 1
    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    exact = li.agg(
        F.countDistinct("l_partkey").alias("parts"),
        F.countDistinct("l_orderkey").alias("orders"),
    ).collect()[0]
    assert est.exact_parts == exact.parts
    assert est.exact_orders == exact.orders


def test_merge_asof_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (2, 5, 102)], "k long, t long, lid long"
    ).withColumn("tb", F.col("lid"))
    right = spark.createDataFrame(
        [(1, 10, 7.0, 900), (1, 15, 8.0, 901), (2, 9, 9.0, 902)],
        "k long, t long, val double, rid long",
    ).withColumn("tb", F.col("rid"))
    out = merge_asof(
        left, right, on="t", by="k", right_cols=["val", "rid"], tiebreak="tb"
    )
    rows = {r.lid: r for r in out.collect()}
    assert rows[100].asof_rid == 900  # inclusive: right at t=10 matches left t=10
    assert rows[101].asof_rid == 901  # latest preceding (t=15)
    assert rows[102].asof_rid is None  # right t=9 > left t=5 → no match


def test_unpivot_inverts_pivot_exactly(spark):
    from impala_base_to_cdw_sizing_spark.operators.olap_extra import (
        q_pivot,
        q_unpivot,
    )
    from tests.conftest import SF_ORACLE

    wide = {r.o_orderstatus: r.asDict() for r in q_pivot(spark, SF_ORACLE).collect()}
    long_rows = q_unpivot(spark, SF_ORACLE).collect()
    # melt is information-preserving: every wide cell appears once
    assert len(long_rows) == len(wide) * 5
    for r in long_rows:
        assert wide[r.o_orderstatus][f"n_{r.o_orderpriority[0]}"] == r.n


def test_gini_replicates_and_bounds(spark):
    from impala_base_to_cdw_sizing_spark.operators.olap_extra import q_gini
    from tests.conftest import SF_ORACLE

    orders = (
        spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
        .selectExpr(
            "o_custkey",
            "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents",
        )
        .collect()
    )
    from collections import defaultdict

    rev = defaultdict(int)
    for r in orders:
        rev[r.o_custkey] += r.cents
    xs = [v for _, v in sorted(rev.items(), key=lambda kv: (kv[1], kv[0]))]
    n = len(xs)
    s0 = sum(xs)
    s1 = sum((i + 1) * x for i, x in enumerate(xs))
    gini = 2.0 * float(s1) / (float(n) * float(s0)) - (float(n) + 1.0) / float(n)
    row = q_gini(spark, SF_ORACLE).collect()[0]
    assert row.n == n and int(row.total_cents) == s0
    assert row.gini == gini
    # revenue inequality is real but bounded on this corpus
    assert 0.0 < row.gini < 1.0
