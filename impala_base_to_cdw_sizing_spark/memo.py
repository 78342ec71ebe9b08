"""The engine's one in-process memo registry.

Every memo lives in :data:`MEMO` under a key ``(owner, *key)``: the
cached query_history per sf dir (``"qh"``), the converged BPE training
(``"bpe"``), trained k-means centroids (``"centroids"``) and the scan
fan-out decision per input (``"fanout"``). Memoized values are
deterministic, so a hit only skips recomputation. A caller that must
start cold (a bench pass, an oracle sweep between queries) calls
:func:`clear` and never has to name a memo, so a new owner cannot be
left off a list of memos to reset.

The registry stays one flat dict: a state snapshot that compares a
container's top-level entries sees every memo change, which it would
not if memos were nested one level down.
"""

from __future__ import annotations

MEMO: dict[tuple, object] = {}


def clear() -> None:
    """Drop every memo of every owner."""
    MEMO.clear()
