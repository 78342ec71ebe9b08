"""Streaming near-duplicate candidate generation — MinHash/LSH banding
in its incremental, bounded-state form.

The batch engine answers "which docs in this corpus are near-dups"
(``dedup_minhash``) and "which docs of a NEW BATCH collide with an
existing corpus" (``dedup_incremental``). This operator is the third
shape a production crawl needs: candidates ON ARRIVAL, from an
unbounded stream, with state that cannot grow past a per-bucket cap.

Each arriving (doc, band) row is grouped by its LSH bucket
(band_id, band_key) with ``applyInPandasWithState``: the state holds
the first ``cap`` doc ids seen in that bucket; a new arrival emits one
candidate row per retained prior (bounded fan-out: ≤ cap pairs per
arrival per band), then joins the state if there is room. This is the
streaming twin of the batch per-bucket candidate cap in ``sim_lsh_ann``
— a hot bucket (boilerplate page) contributes O(cap) work per arrival
forever, never O(bucket size).

Exact verification (``n_equal`` re-rank) stays downstream where the
signatures live; this stage's contract is the candidate set, and
``tests/test_streaming_neardup.py`` pins it equal to
:func:`neardup_candidates_batch` on the same arrival order.

State bound: ``cap`` bigints per live bucket, and event-time expiry
keeps the live buckets bounded on indefinitely long streams: each
bucket's state carries a deadline ``horizon_ms`` past its latest
arrival, and once the watermark passes it the bucket's doc list is
dropped — cold buckets (a boilerplate page that stopped recurring)
cannot pin memory forever. A doc arriving after its bucket expired
starts a fresh bucket, so candidates are only guaranteed within the
horizon — exactly the contract of
``dropDuplicatesWithinWatermark``-style bounded-state dedup. While no
bucket can expire (a stream whose event time spans less than the
horizon), the output is the batch candidate set.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "band_id long, band_key long, doc_a long, doc_b long"
STATE_SCHEMA = "docs array<bigint>"

DEFAULT_CAP = 64


def make_update_ttl(cap: int, horizon_ms: int):
    """Build the per-bucket state-update function: pair each arrival,
    in (arrival_ts, doc_id) order, with the bucket's retained priors and
    keep the first ``cap`` docs, plus an event-time timeout
    ``horizon_ms`` past the bucket's newest arrival. When the watermark
    crosses it, the timed-out invocation drops the state (one empty
    yield) — bounded state on unbounded streams."""

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(
                {"band_id": [], "band_key": [], "doc_a": [], "doc_b": []}
            )
            return
        (docs,) = state.get if state.exists else ([],)
        docs = list(docs)
        out_a: list[int] = []
        out_b: list[int] = []
        latest = 0
        for pdf in pdfs:
            # arrival order must be total and engine-independent: the
            # (arrival_ts, doc_id) sort pins it within a micro-batch; the
            # stream's micro-batch sequence pins it across batches
            pdf = pdf.sort_values(["arrival_ts", "doc_id"])
            latest = max(latest, int(pdf["arrival_ts"].max().timestamp() * 1000))
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                for prior in docs:
                    out_a.append(prior)
                    out_b.append(doc_id)
                if len(docs) < cap:
                    docs.append(doc_id)
        state.update((docs,))
        state.setTimeoutTimestamp(latest + horizon_ms)
        band_id, band_key = int(key[0]), int(key[1])
        yield pd.DataFrame(
            {
                "band_id": [band_id] * len(out_a),
                "band_key": [band_key] * len(out_a),
                "doc_a": out_a,
                "doc_b": out_b,
            }
        )

    return _update


def neardup_candidates_stream_ttl(
    banded: DataFrame,
    cap: int = DEFAULT_CAP,
    horizon: str = "10 minutes",
    horizon_ms: int = 600_000,
) -> DataFrame:
    """banded stream (doc_id, arrival_ts TIMESTAMP, band_id, band_key)
    → candidate pairs with cold buckets evicted ``horizon`` past their
    newest arrival (event-time timeout against the ``arrival_ts``
    watermark)."""
    return (
        banded.withWatermark("arrival_ts", horizon)
        .groupBy("band_id", "band_key")
        .applyInPandasWithState(
            make_update_ttl(cap, horizon_ms),
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def neardup_candidates_batch(banded: DataFrame, cap: int = DEFAULT_CAP) -> DataFrame:
    """The batch twin: identical candidate pairs from a static frame —
    prior must be among the first ``cap`` arrivals of its bucket and
    strictly earlier than the new doc in (arrival_ts, doc_id) order.
    Equal to :func:`neardup_candidates_stream_ttl` while no bucket
    expires; the stream≡batch tests compare the two."""
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy("band_id", "band_key").orderBy("arrival_ts", "doc_id")
    ranked = banded.withColumn("rk", F.row_number().over(w))
    a = ranked.filter(F.col("rk") <= cap).selectExpr(
        "band_id", "band_key", "doc_id AS doc_a", "rk AS rk_a",
    )
    b = ranked.selectExpr(
        "band_id", "band_key", "doc_id AS doc_b", "rk AS rk_b"
    )
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("rk_a") < F.col("rk_b"))
        .select("band_id", "band_key", "doc_a", "doc_b")
    )
