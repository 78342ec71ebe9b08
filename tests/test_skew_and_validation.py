"""Salting utilities preserve exact results; schema validation errors early."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from impala_base_to_cdw_sizing_spark.operators.skew import salted_agg, salted_join


def test_salted_agg_equals_plain_agg(spark):
    # 90% of rows share one hot key
    df = spark.range(0, 20_000).select(
        F.when(F.col("id") % 10 < 9, "hot").otherwise(
            F.concat(F.lit("k"), (F.col("id") % 50).cast("string"))
        ).alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    plain = {
        r.k: (r.n, r.s)
        for r in df.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum(F.col("v").cast("decimal(38,6)")).alias("s"))
        .collect()
    }
    salted = {
        r.k: (r.n, r.s)
        for r in salted_agg(
            df,
            "k",
            aggs=lambda d: [
                F.count("*").alias("pn"),
                F.sum(F.col("v").cast("decimal(38,6)")).alias("ps"),
            ],
            combine=lambda d: [
                F.sum("pn").alias("n"),
                F.sum("ps").alias("s"),
            ],
        ).collect()
    }
    assert salted == plain


def test_salted_join_equals_plain_join(spark):
    left = spark.range(0, 10_000).select(
        F.when(F.col("id") % 5 < 4, 1).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("lid"),
    )
    right = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("rv")
    )
    plain = left.join(right, "k").agg(
        F.count("*").alias("n"), F.sum("rv").alias("s")
    ).collect()[0]
    salted = salted_join(left, right, "k").agg(
        F.count("*").alias("n"), F.sum("rv").alias("s")
    ).collect()[0]
    assert (salted.n, salted.s) == (plain.n, plain.s)


def test_read_query_history_csv_enforces_schema(spark, tmp_path):
    from impala_base_to_cdw_sizing_spark.sources.files import (
        read_query_history_csv,
    )

    p = tmp_path / "bad.csv"
    p.write_text("query_id,pool\nq1,etl\n")
    df = read_query_history_csv(spark, str(p))
    # schema is declared, not inferred: all 12 columns present, missing
    # ones read as null — the contract the derive stage depends on
    assert len(df.columns) == 12
    row = df.collect()[0]
    assert row.query_id == "q1" and row.duration_millis is None


def test_scaled_partitions_ignores_sidecar_files(tmp_path):
    """r11 ADVICE: directory-dataset input sizing must sum DATA files
    only — _SUCCESS / .crc / _metadata sidecars are not scan input and
    would inflate the width basis."""
    from impala_base_to_cdw_sizing_spark.session import _scaled_partitions

    mib = 1024 * 1024
    ds = tmp_path / "t.parquet"
    ds.mkdir()

    def sparse(p, size):
        with open(p, "wb") as f:
            f.truncate(size)

    sparse(ds / "part-00000.snappy.parquet", 64 * mib)
    sparse(ds / "_SUCCESS", 64 * mib)  # absurd on purpose: the width
    sparse(ds / ".part-00000.crc", 64 * mib)  # must not see these bytes
    sparse(ds / "_metadata", 64 * mib)
    # 64 MiB of data at 8 MiB/partition -> 8, not 32
    assert _scaled_partitions(str(tmp_path), cpus=1) == 8


def test_build_spark_leaves_a_running_session_unchanged(spark):
    """The CLI builds its session with ``build_spark`` on every call; run
    in-process, it must get the caller's session as it is, not one with
    its shuffle width and AQE reset to the CLI's defaults."""
    from impala_base_to_cdw_sizing_spark.session import build_spark

    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    before = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert build_spark("sizing-replay") is spark
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
