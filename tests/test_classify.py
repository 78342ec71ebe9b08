"""E1 classification: bucket edges, overflow, and CASE text ≡ range-join."""

from __future__ import annotations

from pyspark.sql import functions as F

from impala_base_to_cdw_sizing_spark.operators.classify import (
    classify_range_join,
    tsize_case_sql,
)


def test_bucket_edges_match_reference(spark):
    # get_tsize edge semantics (impala_query_sizing.py:14-20,71-84):
    # ceil first, inclusive bounds, None past 999.
    cases = [
        (0.0, "XSMALL"), (2.0, "XSMALL"), (2.1, "SMALL"),  # ceil(2.1)=3
        (3.0, "SMALL"), (10.0, "SMALL"), (10.5, "MEDIUM"),
        (20.0, "MEDIUM"), (21.0, "LARGE"), (40.0, "LARGE"),
        (41.0, "CUSTOM"), (999.0, "CUSTOM"), (1000.0, None), (5000.0, None),
    ]
    df = spark.createDataFrame([(x,) for x, _ in cases], "x double")
    got = {
        r.x: r.label
        for r in df.select("x", F.expr(tsize_case_sql("x")).alias("label")).collect()
    }
    for x, want in cases:
        assert got[x] == want, f"x={x}: got {got[x]}, want {want}"


def test_when_chain_equals_range_join(spark):
    df = spark.range(0, 1200).select((F.col("id") / 3.0).alias("x"))
    chain = df.select("x", F.expr(tsize_case_sql("x")).alias("a"))
    joined = classify_range_join(df, "x", out_col="b")
    merged = chain.join(joined, "x")
    mismatches = merged.filter(
        ~(
            (F.col("a") == F.col("b"))
            | (F.col("a").isNull() & F.col("b").isNull())
        )
    ).count()
    assert mismatches == 0


def test_range_join_is_broadcast(spark):
    df = spark.range(0, 100).select(F.col("id").cast("double").alias("x"))
    plan = classify_range_join(df, "x")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan

