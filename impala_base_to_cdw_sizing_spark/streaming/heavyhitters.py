"""Streaming heavy hitters with bounded state — the Space-Saving summary
(Metwally/Agrawal/El Abbadi 2005, "Efficient Computation of Frequent and
Top-k Elements in Data Streams") as an ``applyInPandasWithState``
operator.

Sharding: items route to ``hash(item) % n_groups`` state groups, so each
group runs an INDEPENDENT capacity-``cap`` summary over a disjoint slice
of the item space. State per group is three parallel arrays of at most
``cap`` entries — constant memory per group no matter how long the
stream runs, which is the whole point: an exact streaming groupBy-count
holds one counter per DISTINCT item forever (unbounded on an open item
domain), Space-Saving holds ``cap`` and still guarantees:

- no false negatives: any item whose true group-local frequency exceeds
  N_g / cap is tracked at all times;
- per-item bounds: est_count - err <= true_count <= est_count.

Both guarantees are pinned against exact batch counts in
``tests/test_streaming_heavyhitters.py``, along with stream ≡ sequential
reference across micro-batch boundaries and the state-size bound.

Determinism: rows fold in (ts_ms, seq) order within each batch; eviction
picks the minimum (count, item) lexicographically, so the summary is a
pure function of the arrival order.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEFAULT_CAP = 8

OUTPUT_SCHEMA = "grp long, item string, est_count long, err long"
STATE_SCHEMA = "items array<string>, counts array<long>, errs array<long>"


def spacesaving_fold(
    rows: list[str], summary: dict[str, list[int]], cap: int
) -> None:
    """The textbook update, in place: ``summary[item] = [count, err]``."""
    for item in rows:
        if item in summary:
            summary[item][0] += 1
        elif len(summary) < cap:
            summary[item] = [1, 0]
        else:
            evict = min(summary, key=lambda k: (summary[k][0], k))
            mincnt = summary[evict][0]
            del summary[evict]
            summary[item] = [mincnt + 1, mincnt]


def make_update(cap: int = DEFAULT_CAP):
    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            items, counts, errs = state.get
            summary = {
                i: [int(c), int(e)] for i, c, e in zip(items, counts, errs)
            }
        else:
            summary = {}
        # A group's micro-batch can span multiple Arrow record batches
        # (default batch size ~10k rows), and sorting each chunk
        # independently would fold rows out of global (ts_ms, seq)
        # order — concat first, sort ONCE, then fold.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts_ms", "seq"]
            )
            spacesaving_fold(list(batch["item"]), summary, cap)
        ordered = sorted(summary)
        state.update(
            (
                ordered,
                [summary[i][0] for i in ordered],
                [summary[i][1] for i in ordered],
            )
        )
        yield pd.DataFrame(
            {
                "grp": [key[0]] * len(ordered),
                "item": ordered,
                "est_count": [summary[i][0] for i in ordered],
                "err": [summary[i][1] for i in ordered],
            }
        )

    return _update


def heavyhitters_stream(
    events: DataFrame, cap: int = DEFAULT_CAP, output_mode: str = "update"
) -> DataFrame:
    """events(grp, item, ts_ms, seq) stream → the full capacity-``cap``
    summary of every state group after each micro-batch (the latest row
    set per group is the current summary). ``output_mode='append'``
    pairs with a file sink for checkpoint-recoverable runs: the sink
    then holds the full snapshot history, exactly once."""
    return events.groupBy("grp").applyInPandasWithState(
        make_update(cap),
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        output_mode,
        GroupStateTimeout.NoTimeout,
    )
