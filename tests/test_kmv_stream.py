"""Streaming KMV sketch: after consuming the same events, the stream's
per-(type, hour) sketch state must equal the batch op's sketch
hash-for-hash, and the SHARED sliding-merge arithmetic
(``kmv_sliding_from_sketch``) must therefore reproduce
``sketch_kmv_sliding`` row-for-row — a stream≡batch identity of shared
code applied to the newest sketch. Also pins the state bound: every emitted sketch
is ≤ k hashes, and the number of state keys equals the occupied clock
grid, not the event count."""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest
from tests.conftest import SF_SMALL


@pytest.mark.slow  # re-tiered r15: driver gate = fast tier; this test's coverage stays in the release gate (pytest -m "")
def test_stream_sketch_equals_batch_and_sliding_identity(spark, tmp_path):
    from impala_base_to_cdw_sizing_spark.operators import sketch_sets as SS
    from impala_base_to_cdw_sizing_spark.sources.files import load_events
    from impala_base_to_cdw_sizing_spark.streaming.kmv_stream import (
        kmv_sketch_stream,
    )

    n_batches = 4
    ev = load_events(spark, SF_SMALL).selectExpr(
        "event_type",
        f"{SS._HOUR} AS hr",
        f"(user_id * {SS._KNUTH}) % {SS._KMV_M} AS h",
        f"user_id % {n_batches} AS part",
    )
    src = str(tmp_path / "src")
    for b in range(n_batches):
        ev.filter(F.col("part") == b).select(
            "event_type", "hr", "h"
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("event_type string, hr long, h long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        kmv_sketch_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("kmv_sketches")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # newest version per key = the current state snapshot
    snap = spark.sql(
        """
        SELECT event_type, hr, hashes FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY event_type, hr ORDER BY version DESC) AS rn
          FROM kmv_sketches
        ) WHERE rn = 1
        """
    )
    rows = snap.collect()
    assert rows
    # state bound: ≤ k hashes per key, keys = occupied (type, hour) grid
    assert all(len(r.hashes) <= SS._SLIDE_K for r in rows)
    n_cells = ev.select("event_type", "hr").distinct().count()
    assert len(rows) == n_cells

    # identity 1: stream sketch == batch sketch, hash for hash
    stream_sketch = snap.selectExpr(
        "event_type", "hr", "explode(hashes) AS h"
    )
    from pyspark.sql import Window

    hourly_hashes = ev.select("event_type", "hr", "h").distinct()
    w_h = Window.partitionBy("event_type", "hr").orderBy("h")
    batch_sketch = (
        hourly_hashes.withColumn("rn", F.row_number().over(w_h))
        .filter(F.col("rn") <= SS._SLIDE_K)
        .select("event_type", "hr", "h")
    )
    a = {tuple(r) for r in stream_sketch.collect()}
    b = {tuple(r) for r in batch_sketch.collect()}
    assert a == b

    # identity 2: the shared merge arithmetic over the stream snapshot
    # reproduces the registered batch query row-for-row
    got = {
        (r.event_type, r.target_hr): (r.sketch_n, r.kth_hash, r.est_distinct_24h)
        for r in SS.kmv_sliding_from_sketch(stream_sketch).collect()
    }
    want = {
        (r.event_type, r.target_hr): (r.sketch_n, r.kth_hash, r.est_distinct_24h)
        for r in SS.q_kmv_sliding(spark, SF_SMALL).collect()
    }
    assert got == want
