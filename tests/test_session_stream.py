"""Streaming sessionization: after consuming the same events (fed as
time-ordered day files), the newest per-user snapshot must equal
``rel_sessionize`` row-for-row — counts AND the state bound (one state
row per user, three numbers each)."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # release-gate tier (r8 verdict #8)

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_session_stream_equals_batch(spark, tmp_path):
    from impala_base_to_cdw_sizing_spark.operators.relational import (
        q_sessionize_segmented,
    )
    from impala_base_to_cdw_sizing_spark.sources.files import load_events
    from impala_base_to_cdw_sizing_spark.streaming.session_stream import (
        session_stream,
    )

    ev = load_events(spark, SF_SMALL).selectExpr(
        "user_id", "ts", "event_id",
        "CAST(ts DIV 86400000000000 AS BIGINT) AS day",
    )
    days = sorted(r.day for r in ev.select("day").distinct().collect())
    assert len(days) > 2  # several micro-batches, state really carries over
    src = str(tmp_path / "src")
    for d in days:  # time-ordered replay: one file per day, oldest first
        ev.filter(F.col("day") == d).select(
            "user_id", "ts", "event_id"
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts long, event_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        session_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sessions_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    snap = spark.sql(
        """
        SELECT user_id, n_events, n_sessions FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY version DESC) AS rn
          FROM sessions_stream
        ) WHERE rn = 1
        """
    )
    got = {(r.user_id): (r.n_events, r.n_sessions) for r in snap.collect()}
    batch = {
        r.user_id: (r.n_events, r.n_sessions)
        for r in q_sessionize_segmented(spark, SF_SMALL).collect()
    }
    assert got == batch
    # sessions are a real cut, not one-per-event or one-per-user
    assert any(s > 1 for _, s in got.values())
    assert all(s <= e for e, s in got.values())
    assert any(s < e for e, s in got.values())
