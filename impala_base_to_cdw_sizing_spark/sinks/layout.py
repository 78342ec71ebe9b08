"""Physical-layout sinks: partitioned (and optionally bucketed) writes.

At 100 TB the dominant cost of most queries is the scan; directory
partitioning on a low-cardinality predicate key turns `WHERE key = x`
into reading 1/N of the files (static pruning) and `JOIN dim` with a
selective dim filter into reading only the matching partitions (dynamic
partition pruning — Catalyst injects the dim keys as a runtime partition
filter, reusing the broadcast). Bucketing covers the high-cardinality
join keys instead (tests/test_bucketing.py); the two compose:
partition by date, bucket by join key.

Plan-level proof lives in tests/test_partition_pruning.py: the scan node
must show ``PartitionFilters`` with the literal (static) and a
``dynamicpruningexpression`` (DPP) — not just equal row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame, path: str, partition_keys: list[str], fmt: str = "parquet"
) -> None:
    """Write ``df`` hive-style partitioned by ``partition_keys``.

    Keys should be low-cardinality and predicate-bearing (date, type,
    tenant). High-cardinality keys explode the file count — use
    bucketing for those.
    """
    df.write.mode("overwrite").partitionBy(*partition_keys).format(fmt).save(path)


def read_partitioned(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Read a partitioned layout; partition columns come back as regular
    columns and partition pruning applies to filters on them."""
    return spark.read.format(fmt).load(path)
