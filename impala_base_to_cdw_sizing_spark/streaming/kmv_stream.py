"""Streaming hourly KMV sketch maintenance — the stream twin of
``sketch_sets.q_kmv_sliding``.

A live pipeline cannot re-scan history to answer "distinct users in the
trailing 24 h": it maintains one k-minimum-values sketch per
(event_type, hour) as events arrive and evaluates the sliding merge
over the CURRENT sketch snapshot. The stateful piece here is exactly
that sketch: ``applyInPandasWithState`` keyed by (event_type, hr),
state = the sorted ≤ k smallest distinct hashes seen for that key —
folding a batch is "union, sort, truncate to k", the KMV insert rule,
so state NEVER exceeds k longs per occupied (type, hour) cell
regardless of event volume (the bound is clock × types × k, same as
the batch op's sketch frame).

Each update emits the key's full current sketch as rows tagged with a
per-key version; downstream takes the max-version rows per key and
feeds them to the SHARED merge arithmetic
(``operators.sketch_sets.kmv_sliding_from_sketch``) — the same code
path the batch op ends with, so stream ≡ batch after consuming the same
events is an identity of inputs, pinned in
``tests/test_kmv_stream.py``, not a mirrored reimplementation.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.sketch_sets import _SLIDE_K

OUTPUT_SCHEMA = (
    "event_type string, hr long, version long, hashes array<bigint>"
)
STATE_SCHEMA = "hashes array<bigint>, version bigint"


def _update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        hashes, version = state.get
        current = set(hashes)
    else:
        current, version = set(), 0
    for pdf in pdfs:
        current.update(int(h) for h in pdf["h"])
    # KMV insert rule: keep only the k smallest distinct hashes
    kept = sorted(current)[:_SLIDE_K]
    version += 1
    state.update((kept, version))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "hr": [key[1]],
            "version": [version],
            "hashes": [kept],
        }
    )


def kmv_sketch_stream(events: DataFrame) -> DataFrame:
    """events stream with columns (event_type, hr, h) → update-mode
    per-key sketch snapshots. No timeout: the state bound is the clock
    grid, not the stream length; a retention-limited deployment adds
    ``GroupStateTimeout`` keyed on event-time exactly like the near-dup
    TTL stream."""
    return events.groupBy("event_type", "hr").applyInPandasWithState(
        _update,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
