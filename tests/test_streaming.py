"""Structured Streaming sweep: stream ≡ batch on the same event files,
and the late-event semantics the batch path has no analog for."""

from __future__ import annotations

from impala_base_to_cdw_sizing_spark.config import DEFAULT_PARAMS
from impala_base_to_cdw_sizing_spark.operators.sweep import explode_events
from impala_base_to_cdw_sizing_spark.plans.pipeline import run_sizing
from impala_base_to_cdw_sizing_spark.sources.synthetic import (
    query_history_from_events,
)
from impala_base_to_cdw_sizing_spark.streaming.sweep_stream import (
    windowed_concurrency,
)

from tests.conftest import SF_SMALL

EVENT_SCHEMA = "ts_ms long, sign int, pods_u long"


def _event_files(spark, tmp_path):
    qh = query_history_from_events(spark, SF_SMALL)
    res = run_sizing(qh, DEFAULT_PARAMS)
    ev = explode_events(res.routed.kept).select("ts_ms", "sign", "pods_u")
    path = str(tmp_path / "events")
    # several files so maxFilesPerTrigger exercises multiple micro-batches
    ev.repartition(4).write.mode("overwrite").parquet(path)
    return path, ev


def hourly_windows(rows) -> dict[int, tuple[int, int, int, int]]:
    """Batch reference for ``windowed_concurrency``, in plain Python:
    (ts_ms, sign, pods_u) rows → {window start ms: (starts, ends,
    net_queries, net_pods_u)} over epoch-aligned one-hour windows."""
    hour = 3_600_000
    out: dict[int, list[int]] = {}
    for ts_ms, sign, pods_u in rows:
        w = out.setdefault(ts_ms - ts_ms % hour, [0, 0, 0, 0])
        w[0] += sign > 0
        w[1] += sign < 0
        w[2] += sign
        w[3] += pods_u
    return {k: tuple(v) for k, v in out.items()}


def window_rows(df) -> dict[int, tuple[int, int, int, int]]:
    """``windowed_concurrency`` output keyed like :func:`hourly_windows`
    (UTC epoch millis via SQL: a collected timestamp renders in the
    machine's time zone)."""
    return {
        r.ms: (r.starts, r.ends, r.net_queries, r.net_pods_u)
        for r in df.selectExpr(
            "unix_millis(window_start) AS ms", "starts", "ends",
            "net_queries", "net_pods_u",
        ).collect()
    }


def test_stream_equals_batch(spark, tmp_path):
    """windowed_concurrency run as a micro-batch stream (one file per
    trigger, state carried across batches) and as a batch query (the
    watermark is ignored there) both yield the windows of the batch
    reference."""
    path, ev = _event_files(spark, tmp_path)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    q = (
        windowed_concurrency(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sweep_test")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    want = hourly_windows(tuple(r) for r in ev.collect())
    assert len(want) > 1
    assert window_rows(spark.table("sweep_test")) == want
    assert window_rows(windowed_concurrency(ev)) == want


def test_watermark_drops_late_events(spark, tmp_path):
    """Pin the semantics the batch path has no analog for: an event
    arriving after the watermark has passed its window is dropped; one
    within the watermark is folded in."""
    import time as _time

    hour = 3_600_000
    path = tmp_path / "late"
    path.mkdir()

    def write_file(rows):
        # each coalesce(1) append creates one file → one micro-batch
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(path))
        _time.sleep(0.1)

    # batch 1: events up to t=12h → watermark advances to 12h - 2h = 10h
    write_file([(1 * hour, 1, 10), (12 * hour, 1, 10)])

    stream = spark.readStream.schema(EVENT_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(path))
    q = (
        windowed_concurrency(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("late_test")
        .start()
    )
    q.processAllAvailable()
    # batch 2: one late event in the 1h window (beyond the 10h watermark
    # → dropped) and one within (11h window, inside watermark → kept),
    # plus a fresh event to keep the stream moving
    write_file([(1 * hour + 60_000, 1, 99), (11 * hour, 1, 7), (13 * hour, 1, 1)])
    q.processAllAvailable()
    q.stop()

    # compare on UTC epoch millis via SQL (collect() of timestamps renders
    # in the MACHINE timezone, which would break this on non-UTC hosts)
    got = {
        r.ms: r.starts
        for r in spark.sql(
            "SELECT unix_millis(window_start) AS ms, starts FROM late_test"
        ).collect()
    }
    # append mode emits only finalized windows (watermark passed): the 1h
    # window must have exactly its on-time event, the late +99 discarded
    assert got.get(1 * hour) == 1, got  # late event NOT folded in
