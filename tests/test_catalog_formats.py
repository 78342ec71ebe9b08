"""Multi-format replay sources, golden hash."""

from __future__ import annotations

import hashlib

import pytest

from impala_base_to_cdw_sizing_spark.sources.files import read_query_history

from tests.conftest import SF_SMALL


def test_multi_format_replay_roundtrip(spark, tmp_path):
    csv_df = read_query_history(
        spark, _write_sample_csv(tmp_path), fmt="csv"
    )
    for fmt in ("json", "parquet", "orc"):
        path = str(tmp_path / fmt)
        getattr(csv_df.write.mode("overwrite"), fmt)(path)
        back = read_query_history(spark, path, fmt=fmt)
        assert back.schema == csv_df.schema
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, csv_df.collect())
        )
    with pytest.raises(ValueError):
        read_query_history(spark, "x", fmt="avro")


def _write_sample_csv(tmp_path) -> str:
    p = tmp_path / "h.csv"
    p.write_text(
        "query_id,pool,start_time,end_time,duration_millis,reqd_cache_gb,"
        "reqd_agg_mem,memory_spilled_gb,cpu_time_sec,query_type,"
        "admission_wait,num_backends\n"
        "q1,etl,2021-07-12T01:00:00.000Z,2021-07-12T01:00:10.000Z,10000,"
        "1.5,2.5,0.0,12.0,QUERY,5,2\n"
    )
    return str(p)


# Golden regression: the flagship derive output at sf0.001 is pinned by
# hash. If this breaks, either the engine or the synthetic generator
# changed semantics — both must be deliberate (update the hash with the
# commit that changes them).
GOLDEN_SHA256 = "2bcdde20ddc09b85d294f75739e20141a4a60dbf4f1da2a70515eb1103d0bdda"


def test_sizing_derive_golden_hash(spark):
    import __spark_entry__ as ent

    pdf = ent.q_sizing_derive(spark, SF_SMALL).toPandas()
    pdf = pdf[sorted(pdf.columns)].sort_values(list(sorted(pdf.columns)))
    payload = pdf.to_csv(index=False, float_format="%.10g").encode()
    digest = hashlib.sha256(payload).hexdigest()
    if GOLDEN_SHA256 == "UNSET":
        pytest.skip(f"golden not pinned yet; current = {digest}")
    assert digest == GOLDEN_SHA256


def test_multifile_provenance_counts(spark, tmp_path):
    """_metadata.file_name accounts rows per source file of a
    partitioned write — the audit a quarantine/backfill starts from."""
    from pyspark.sql import functions as F

    src = spark.range(1000).selectExpr("id", "id % 7 AS k")
    path = str(tmp_path / "multi")
    src.repartition(4).write.mode("overwrite").parquet(path)
    per_file = (
        spark.read.parquet(path)
        .select(F.col("_metadata.file_name").alias("f"))
        .groupBy("f")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert len(per_file) == 4
    assert sum(r["n"] for r in per_file) == 1000
    assert all(r["f"].endswith(".parquet") for r in per_file)


def test_schema_evolution_merge_read(spark, tmp_path):
    """Two batches with drifted schemas (a column added later) read back
    as ONE table via mergeSchema: old rows null-fill the new column —
    the lakehouse append-evolution contract."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a")], "id long, name string"
    ).write.mode("append").parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None  # old batch null-fills the new column
    assert rows[2]["score"] == 9.5


def test_corrupt_record_quarantine(spark, tmp_path):
    """Malformed replay rows are QUARANTINED with their raw line, not
    silently dropped (the engine-grade replacement for the reference's
    try/except partial state): clean + quarantined = total input."""
    from impala_base_to_cdw_sizing_spark.sources.files import (
        read_query_history_with_quarantine,
    )

    p = tmp_path / "dirty.csv"
    header = (
        "query_id,pool,start_time,end_time,duration_millis,reqd_cache_gb,"
        "reqd_agg_mem,memory_spilled_gb,cpu_time_sec,query_type,"
        "admission_wait,num_backends"
    )
    good1 = "q1,root.p,2021-01-01T00:00:00.000Z,2021-01-01T00:00:01.000Z,1000,1.5,2.0,0.0,3.5,QUERY,10,3"
    bad_long = "q2,root.p,2021-01-01T00:00:00.000Z,2021-01-01T00:00:01.000Z,NOT_A_NUMBER,1.5,2.0,0.0,3.5,QUERY,10,3"
    good2 = "q3,root.p,2021-01-01T00:00:02.000Z,2021-01-01T00:00:03.000Z,1000,0.5,1.0,0.0,1.5,DDL,0,2"
    bad_double = "q4,root.p,2021-01-01T00:00:00.000Z,2021-01-01T00:00:01.000Z,1000,BROKEN,2.0,0.0,3.5,QUERY,10,3"
    p.write_text("\n".join([header, good1, bad_long, good2, bad_double]) + "\n")

    good, quarantine = read_query_history_with_quarantine(spark, str(p))
    assert {r["query_id"] for r in good.collect()} == {"q1", "q3"}
    q_rows = quarantine.collect()
    assert len(q_rows) == 2
    # the raw lines round-trip for repair/replay
    assert any("NOT_A_NUMBER" in r["raw_line"] for r in q_rows)
    assert any("BROKEN" in r["raw_line"] for r in q_rows)
    assert good.count() + quarantine.count() == 4


def test_small_files_compaction_preserves_rows(spark, tmp_path):
    """The small-files remedy: an over-fragmented dataset (64 tiny
    files — the streaming-ingest pathology) compacts to a few
    right-sized files with row-identical content. At 100 TB this is the
    recurring maintenance job that keeps scan task counts sane."""
    from pathlib import Path

    from pyspark.sql import functions as F

    src = spark.range(10_000).selectExpr("id", "id % 13 AS k")
    frag = str(tmp_path / "fragmented")
    src.repartition(64).write.mode("overwrite").parquet(frag)
    n_frag = len(list(Path(frag).glob("part-*.parquet")))
    assert n_frag == 64

    compact = str(tmp_path / "compacted")
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(
        compact
    )
    n_comp = len(list(Path(compact).glob("part-*.parquet")))
    assert n_comp == 4

    a = spark.read.parquet(frag)
    b = spark.read.parquet(compact)
    assert a.count() == b.count() == 10_000
    # content identity, order-free: checksum over all rows
    cks = lambda df: df.agg(
        F.sum(F.col("id") * 2654435761 % 1000003).alias("c")
    ).collect()[0]["c"]
    assert cks(a) == cks(b)
