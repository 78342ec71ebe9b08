"""Streaming LSH near-dup candidates: bounded per-bucket state, pairs
emitted on arrival, stream ≡ batch on the same arrival order — including
across micro-batch boundaries — and event-time expiry of cold buckets."""

from __future__ import annotations

from pyspark.sql import functions as F

from impala_base_to_cdw_sizing_spark.operators.text import _band_frame
from impala_base_to_cdw_sizing_spark.streaming.neardup_stream import (
    neardup_candidates_batch,
    neardup_candidates_stream_ttl,
)
from tests.conftest import MH_SMALL, SF_SMALL
import pytest

CAP = 8
# arrival epoch base: an event at epoch 0 is not later than the initial
# watermark (0), so the stateful operator would drop it as late
T0 = 1_600_000_000_000
BANDED_SCHEMA = "doc_id long, arrival_ts timestamp, band_id long, band_key long"


def _frame(spark, rows):
    """(doc_id, arrival epoch millis, band_id, band_key) rows → banded frame."""
    return spark.createDataFrame(
        rows, "doc_id long, ts_ms long, band_id long, band_key long"
    ).select(
        "doc_id", F.timestamp_millis("ts_ms").alias("arrival_ts"), "band_id", "band_key"
    )


def _banded(spark):
    # the real LSH banding of the corpus (small signature keeps the
    # test fast); arrival = T0 + doc_id milliseconds so the order is
    # replayable and the stream spans under a second of event time —
    # inside the TTL horizon, so no bucket expires and the stream must
    # equal the batch candidate set
    return (
        _band_frame(spark, SF_SMALL, *MH_SMALL)
        .selectExpr(
            "doc_id", f"timestamp_millis({T0} + doc_id) AS arrival_ts",
            "CAST(band_id AS LONG) AS band_id", "band_key",
        )
    )


def _run_stream(spark, tmp_path, frames):
    """Feed ``frames`` as successive micro-batches via a file source."""
    src = str(tmp_path / "src")
    out_name = "neardup_out"
    first = True
    q = None
    for f in frames:
        f.coalesce(1).write.mode("append").parquet(src)
        if first:
            stream = spark.readStream.schema(BANDED_SCHEMA).parquet(src)
            q = (
                neardup_candidates_stream_ttl(stream, cap=CAP)
                .writeStream.outputMode("append")
                .format("memory")
                .queryName(out_name)
                .start()
            )
            first = False
        q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {out_name}")


def test_stream_equals_batch_across_microbatches(spark, tmp_path):
    banded = _banded(spark).cache()
    cut = 250  # arrival split: two micro-batches
    frames = [
        banded.filter(F.col("doc_id") < cut),
        banded.filter(F.col("doc_id") >= cut),
    ]
    got = {
        (r.band_id, r.band_key, r.doc_a, r.doc_b)
        for r in _run_stream(spark, tmp_path, frames).collect()
    }
    want = {
        (r.band_id, r.band_key, r.doc_a, r.doc_b)
        for r in neardup_candidates_batch(banded, cap=CAP).collect()
    }
    assert got == want
    assert want, "fixture must produce candidate pairs"
    banded.unpersist()


@pytest.mark.slow  # re-tiered r15: driver gate = fast tier; this test's coverage stays in the release gate (pytest -m "")
def test_ttl_evicts_cold_buckets(spark, tmp_path):
    """Event-time TTL: batch 1 fills a bucket, batch 2 arrives far past
    the horizon — the bucket's state must be gone, so the late doc emits
    NO pairs with batch-1 priors and restarts the bucket (a subsequent
    in-horizon doc pairs only with it)."""
    hour = 3_600_000
    # event-time timeout semantics: the watermark only advances at
    # micro-batch end, and a timed-out group is invoked (and evicted)
    # in a batch where it receives NO data — so advance the watermark
    # through a DIFFERENT bucket, give the evictor one data-less batch,
    # then probe the cold bucket
    batches = [
        _frame(spark, [(1, T0, 0, 7), (2, T0 + 1000, 0, 7)]),  # bucket 7 seeded
        _frame(spark, [(100, T0 + 3 * hour, 0, 9)]),  # watermark jumps
        _frame(spark, [(101, T0 + 3 * hour + 1000, 0, 9)]),  # bucket 7 evicted here
        _frame(spark, [(3, T0 + 3 * hour + 2000, 0, 7)]),  # cold-bucket probe
        _frame(spark, [(4, T0 + 3 * hour + 3000, 0, 7)]),  # restarted bucket
    ]
    src = str(tmp_path / "ttl_src")
    q = None
    for f in batches:
        f.coalesce(1).write.mode("append").parquet(src)
        if q is None:
            stream = spark.readStream.schema(BANDED_SCHEMA).parquet(src)
            q = (
                neardup_candidates_stream_ttl(
                    stream, cap=8, horizon="10 minutes", horizon_ms=600_000
                )
                .writeStream.outputMode("append")
                .format("memory")
                .queryName("ttl_out")
                .start()
            )
        q.processAllAvailable()
    q.stop()
    pairs = {(r.doc_a, r.doc_b) for r in spark.sql("SELECT * FROM ttl_out").collect()}
    # batch 1: the in-horizon pair
    assert (1, 2) in pairs
    # doc 3 arrived after eviction: NO pair with 1 or 2
    assert not {(1, 3), (2, 3)} & pairs
    # doc 4 pairs with the restarted bucket's sole prior (3), not 1/2
    assert (3, 4) in pairs
    assert not {(1, 4), (2, 4)} & pairs


def test_hot_bucket_state_and_fanout_are_capped(spark, tmp_path):
    # one synthetic hot bucket: 40 docs, same band key
    hot = _frame(spark, [(i, T0 + i, 0, 12345) for i in range(40)])
    out = _run_stream(spark, tmp_path, [hot]).collect()
    # every arrival pairs with at most CAP priors...
    from collections import Counter

    per_new = Counter(r.doc_b for r in out)
    assert max(per_new.values()) <= CAP
    # ...and only the first CAP docs ever act as priors (bounded state)
    assert {r.doc_a for r in out} == set(range(CAP))
    # total pairs: choose-2 over the first CAP, plus CAP per later doc
    expect = CAP * (CAP - 1) // 2 + (40 - CAP) * CAP
    assert len(out) == expect


def test_ttl_state_survives_checkpoint_restart(spark, tmp_path):
    """r4 verdict #7: kill the TTL query mid-stream, restart from the
    same checkpoint — bucket state must survive (the post-restart doc
    pairs with pre-restart priors) and no pair may be emitted twice
    (exactly-once via checkpoint + file sink)."""

    src = str(tmp_path / "rsrc")
    out = str(tmp_path / "rout")
    ckpt = str(tmp_path / "rckpt")
    schema = "doc_id long, arrival_ms long, band_id long, band_key long"
    minute = 60_000

    def _write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def _start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .selectExpr(
                "doc_id", "timestamp_millis(arrival_ms) AS arrival_ts",
                "band_id", "band_key",
            )
        )
        return (
            neardup_candidates_stream_ttl(stream, cap=8)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    # run 1: docs 1 and 2 land in bucket (0, 42) -> one pair
    _write([(1, 1 * minute, 0, 42), (2, 2 * minute, 0, 42)])
    q = _start()
    q.processAllAvailable()
    q.stop()
    got1 = sorted(
        (r.doc_a, r.doc_b) for r in spark.read.parquet(out).collect()
    )
    assert got1 == [(1, 2)]

    # doc 3 arrives while the query is DOWN (well inside the horizon);
    # restart with the same checkpoint
    _write([(3, 3 * minute, 0, 42)])
    q2 = _start()
    q2.processAllAvailable()
    q2.stop()
    got = sorted((r.doc_a, r.doc_b) for r in spark.read.parquet(out).collect())
    # state survived: doc 3 pairs with BOTH pre-restart priors;
    # exactly-once: (1,2) appears exactly once (sorted-list equality
    # would expose any duplicate emission)
    assert got == [(1, 2), (1, 3), (2, 3)], got
