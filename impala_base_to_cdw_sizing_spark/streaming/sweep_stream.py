"""Structured Streaming variant of the concurrency sweep — SURVEY.md §7.1
M7 (the F-path as a stateful stream).

The batch sweep (operators.sweep) is the source of truth for correctness
hashes; this module demonstrates the same event stream processed as a
Structured Streaming job: event-time tumbling windows with a watermark
aggregate the ±1 query events into per-window arrival/departure/net
counts and micro-unit resource deltas — the segmented-sweep
decomposition (SURVEY §4.3.2) with windows as buckets.

At scale: watermark bounds state; window aggregation is the standard
shuffle-by-window-key plan; late events within the watermark are folded
in, later ones dropped — semantics the batch path has no analog for, so
they are test-pinned here. On a batch frame Spark ignores the watermark,
so the same function also runs as a batch query;
``tests/test_streaming.py`` checks both executions against a
plain-Python reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WINDOW = "1 hour"
WATERMARK = "2 hours"


def windowed_concurrency(events: DataFrame) -> DataFrame:
    """ts_ms/sign/pods_u events → per-window aggregate deltas.

    Input columns: ts_ms (long epoch millis), sign (±1), pods_u (long
    micro-units; explode_events' quantization).
    """
    with_ts = events.withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    return (
        with_ts.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("win"))
        .agg(
            F.sum(F.when(F.col("sign") > 0, 1).otherwise(0)).alias("starts"),
            F.sum(F.when(F.col("sign") < 0, 1).otherwise(0)).alias("ends"),
            F.sum("sign").alias("net_queries"),
            F.sum("pods_u").alias("net_pods_u"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "starts", "ends", "net_queries", "net_pods_u",
        )
    )
