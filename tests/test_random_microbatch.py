"""Stream ≡ batch under RANDOM micro-batch boundaries (r10 verdict #3).

The fixed-split stream≡batch tests (test_streaming.py,
test_streaming_neardup.py, test_streaming_heavyhitters.py) cut the same
fixtures at hand-picked points; the missing adversarial axis is the
boundary placement itself. Here each operator's fixture is re-chunked
into seeded-random micro-batch splits — arrival order preserved, cut
points and chunk counts drawn from ``random.Random(seed)`` — and the
final state must equal the batch/sequential reference for EVERY seed:

- ``sweep_stream``: windowed concurrency deltas (order-independent agg —
  boundaries only change which micro-batch folds each event);
- ``neardup_stream``: LSH bucket candidate pairs (ORDER-dependent: pairs
  emit on arrival against bounded priors; boundaries must not change the
  pair set);
- ``heavyhitters``: Space-Saving summaries (order-dependent fold with
  evictions; the stream must equal the one-pass sequential fold no
  matter where the batch cuts land).

20 seeds per operator. Failures print the seed so any regression is
replayable.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

pytestmark = pytest.mark.slow  # release-gate tier

from tests.conftest import MH_SMALL, SF_SMALL  # noqa: E402

SEEDS = range(20)


def _random_chunks(rows: list, rng: random.Random) -> list[list]:
    """Split ``rows`` (arrival order preserved) at 1..5 random cut
    points → 2..6 non-empty chunks."""
    n = len(rows)
    k = rng.randint(1, 5)
    cuts = sorted(rng.sample(range(1, n), min(k, n - 1)))
    bounds = [0, *cuts, n]
    return [rows[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]


def _feed_stream(spark, tmp_path, tag, chunks, schema, build_query, mode):
    """Write chunks as successive single-file micro-batches and drive the
    query synchronously after each append."""
    src = str(tmp_path / f"src_{tag}")
    q = None
    for chunk in chunks:
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        if q is None:
            stream = spark.readStream.schema(schema).parquet(src)
            q = (
                build_query(stream)
                .writeStream.outputMode(mode)
                .format("memory")
                .queryName(tag)
                .start()
            )
        q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {tag}")


# --- sweep_stream --------------------------------------------------------------

SWEEP_SCHEMA = T.StructType(
    [
        T.StructField("ts_ms", T.LongType()),
        T.StructField("sign", T.IntegerType()),
        T.StructField("pods_u", T.LongType()),
    ]
)


def test_sweep_stream_invariant_to_random_boundaries(spark, tmp_path):
    from impala_base_to_cdw_sizing_spark.config import DEFAULT_PARAMS
    from impala_base_to_cdw_sizing_spark.operators.sweep import explode_events
    from impala_base_to_cdw_sizing_spark.plans.pipeline import run_sizing
    from impala_base_to_cdw_sizing_spark.sources.synthetic import (
        query_history_from_events,
    )
    from impala_base_to_cdw_sizing_spark.streaming.sweep_stream import (
        windowed_concurrency,
    )
    from tests.test_streaming import hourly_windows, window_rows

    qh = query_history_from_events(spark, SF_SMALL)
    res = run_sizing(qh, DEFAULT_PARAMS)
    ev = explode_events(res.routed.kept).select("ts_ms", "sign", "pods_u")
    # time-ordered replay: random boundaries then never cross the
    # watermark (a replay that time-travels >2h backwards is a different
    # semantic, pinned by test_streaming.py's late-event test)
    rows = [tuple(r) for r in ev.orderBy("ts_ms").collect()]
    want = hourly_windows(rows)
    assert want

    for seed in SEEDS:
        chunks = _random_chunks(rows, random.Random(seed))
        out = _feed_stream(
            spark, tmp_path, f"sweep_seed{seed}", chunks, SWEEP_SCHEMA,
            windowed_concurrency, "complete",
        )
        got = window_rows(out)
        assert got == want, f"seed {seed}: {len(chunks)} chunks diverged"


# --- neardup_stream ------------------------------------------------------------

BANDED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("arrival_ts", T.TimestampType()),
        T.StructField("band_id", T.LongType()),
        T.StructField("band_key", T.LongType()),
    ]
)

NEARDUP_CAP = 8


def test_neardup_stream_invariant_to_random_boundaries(spark, tmp_path):
    from impala_base_to_cdw_sizing_spark.operators.text import _band_frame
    from impala_base_to_cdw_sizing_spark.streaming.neardup_stream import (
        neardup_candidates_batch,
        neardup_candidates_stream_ttl,
    )

    # arrival_ts = doc_id milliseconds past a 2020 epoch base: the whole
    # stream spans under a second of event time, inside the 10-minute
    # TTL horizon, so no bucket can expire and the TTL stream must equal
    # the batch pairs (at epoch 0 itself a doc would count as late)
    banded = (
        _band_frame(spark, SF_SMALL, *MH_SMALL)
        .selectExpr(
            "doc_id", "timestamp_millis(1600000000000 + doc_id) AS arrival_ts",
            "CAST(band_id AS LONG) AS band_id", "band_key",
        )
        .cache()
    )
    want = {
        (r.band_id, r.band_key, r.doc_a, r.doc_b)
        for r in neardup_candidates_batch(banded, cap=NEARDUP_CAP).collect()
    }
    assert want, "fixture must produce candidate pairs"
    rows = [tuple(r) for r in banded.orderBy("arrival_ts", "band_id").collect()]

    for seed in SEEDS:
        chunks = _random_chunks(rows, random.Random(1000 + seed))
        out = _feed_stream(
            spark, tmp_path, f"neardup_seed{seed}", chunks, BANDED_SCHEMA,
            lambda s: neardup_candidates_stream_ttl(s, cap=NEARDUP_CAP),
            "append",
        )
        got = {
            (r.band_id, r.band_key, r.doc_a, r.doc_b)
            for r in out.collect()
        }
        assert got == want, f"seed {seed}: {len(chunks)} chunks diverged"
    banded.unpersist()


# --- heavyhitters --------------------------------------------------------------

HH_SCHEMA = T.StructType(
    [
        T.StructField("grp", T.LongType()),
        T.StructField("item", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("seq", T.LongType()),
    ]
)

HH_CAP = 4
HH_GROUPS = 2


def _hh_grp(item: str) -> int:
    return sum(ord(c) for c in item) % HH_GROUPS


def _hh_rows() -> list[tuple]:
    """Same deterministic zipf-ish stream as
    test_streaming_heavyhitters._skewed_rows (hot items + eviction-forcing
    singleton tail, fixed-stride interleave)."""
    items = []
    for k in range(1, 9):
        items += [f"hot{k}"] * (400 // k)
    items += [f"tail{j}" for j in range(200)]
    n = len(items)
    interleaved = [items[(i * 769) % n] for i in range(n)]
    return [
        (_hh_grp(item), item, 1_000 + seq, seq)
        for seq, item in enumerate(interleaved)
    ]


def test_heavyhitters_invariant_to_random_boundaries(spark, tmp_path):
    from impala_base_to_cdw_sizing_spark.streaming.heavyhitters import (
        heavyhitters_stream,
        spacesaving_fold,
    )

    rows = _hh_rows()
    ref: dict[int, dict] = {g: {} for g in range(HH_GROUPS)}
    for g, item, _ts, _seq in rows:
        spacesaving_fold([item], ref[g], HH_CAP)

    for seed in SEEDS:
        chunks = _random_chunks(rows, random.Random(2000 + seed))
        out = _feed_stream(
            spark, tmp_path, f"hh_seed{seed}", chunks, HH_SCHEMA,
            lambda s: heavyhitters_stream(s, cap=HH_CAP),
            "update",
        ).toPandas()
        for g in range(HH_GROUPS):
            grp_rows = out[out.grp == g]
            snap = grp_rows.tail(len(ref[g]))
            final = {r.item: (r.est_count, r.err) for r in snap.itertuples()}
            expect = {i: (c, e) for i, (c, e) in ref[g].items()}
            assert final == expect, (
                f"seed {seed} grp {g}: {len(chunks)} chunks diverged"
            )
