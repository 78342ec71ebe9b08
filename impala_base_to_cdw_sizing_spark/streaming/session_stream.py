"""Streaming sessionization — the stream twin of ``rel_sessionize``.

A live clickstream cannot LAG over history to cut sessions: it keeps
per-user state (timestamp of the last event, running session/event
counts) and folds each micro-batch in event-time order —
``applyInPandasWithState`` keyed by user_id, the canonical
session-window stateful operator (Spark's own sessionization example
shape, here with the engine's exact gap rule shared as a constant:
``operators.relational._GAP_NS``, 30 min).

State is THREE numbers per user (last_ts, n_events, n_sessions) —
bounded by user cardinality, independent of stream length. Each
update emits the key's post-batch snapshot tagged with a version;
the newest version per user IS the answer ``rel_sessionize`` computes
over the same events, pinned as an identity in
``tests/test_session_stream.py`` (the kmv_stream contract: shared
constants + a stream-equals-batch test, not a mirrored
reimplementation).

Ordering contract: batches fold events sorted by (ts, event_id) and
must arrive time-partitioned ACROSS batches (the replay harness feeds
day files in order) — the same contract the stateful concurrency
stream documents; production deployments add watermarked event-time
timeouts for stragglers (the near-dup TTL stream shows that pattern).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.relational import _GAP_NS

OUTPUT_SCHEMA = (
    "user_id long, version long, n_events long, n_sessions long, last_ts long"
)
STATE_SCHEMA = "last_ts bigint, n_events bigint, n_sessions bigint, version bigint"


def _update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        last_ts, n_events, n_sessions, version = state.get
    else:
        last_ts, n_events, n_sessions, version = None, 0, 0, 0
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for ts in pdf["ts"]:
            ts = int(ts)
            if last_ts is None or ts - last_ts > _GAP_NS:
                n_sessions += 1
            n_events += 1
            last_ts = ts
    version += 1
    state.update((last_ts, n_events, n_sessions, version))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "version": [version],
            "n_events": [n_events],
            "n_sessions": [n_sessions],
            "last_ts": [last_ts],
        }
    )


def session_stream(events: DataFrame) -> DataFrame:
    """events stream with columns (user_id, ts, event_id) — ts in epoch
    nanos (the load_events normalization) → update-mode per-user
    session-count snapshots."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
