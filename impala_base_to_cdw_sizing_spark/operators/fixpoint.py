"""The fixed-point driver of the iterative operators: connected
components (label propagation and star contraction), exact-integer
PageRank and personalized PageRank, and the converged BPE trainer.

Each round ends in an eager ``localCheckpoint``, which truncates the
lineage. Every scalar the driver needs from a round (a stop test, a
leaked mass, a merge row) is an aggregate over the round's rows, so it
is an :class:`~pyspark.sql.Observation` on that checkpoint job, not a
``count()`` or ``agg().first()`` of its own, which costs one or two
more jobs. :func:`checkpoint` does the same for a loop's inputs.

The small-plan gate. At test and benchmark scale the rounds shuffle a
few thousand rows. With AQE on, every tiny shuffle becomes its own
re-planned query stage and its own job, and scheduling, not data,
dominates the round. Below ~2k rows per core, counted by an
observation the caller already has, :func:`iterate` runs the rounds
with AQE off and a row-scaled shuffle width, and restores both confs on
every exit path. At real scale it never engages. At sf0.1 on 4 cores,
against a no-op gate, it cuts the jobs of ``dedup_hybrid`` from 97 to
48, ``graph_pagerank_conserving`` and ``graph_ppr`` from 38 to 20,
``dedup_components`` from 30 to 21 and ``text_bpe_merges_converged``
from 53 to 37.

The gate writes session confs. A query that another thread plans on
the same session while gated rounds run plans under them too, so gated
rounds assume one thread per session.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation

Seen = dict[str, Any]

# below ~2k rows/core the per-round frames are pure scheduling overhead
_ROWS_PER_CORE = 2048
# shuffle width target inside the gated rounds: one partition per ~4k rows
_ROWS_PER_PARTITION = 4096


def checkpoint(df: DataFrame, *metrics: Column) -> tuple[DataFrame, Seen]:
    """Eagerly ``localCheckpoint`` ``df``; return the checkpoint and the
    ``metrics`` (aggregate columns) observed on that one job."""
    if not metrics:
        return df.localCheckpoint(eager=True), {}
    obs = Observation()
    return df.observe(obs, *metrics).localCheckpoint(eager=True), obs.get


def _gate(spark, rows: int) -> dict[str, str]:
    """The confs gated rounds run under: none at or above the threshold."""
    if rows >= _ROWS_PER_CORE * spark.sparkContext.defaultParallelism:
        return {}
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(
            max(2, min(width, rows // _ROWS_PER_PARTITION + 2))
        ),
    }


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, list[Seen]], DataFrame],
    *,
    max_rounds: int,
    rows: int,
    observe: tuple[Column, ...] = (),
    converged: Callable[[list[Seen]], bool] | None = None,
) -> tuple[DataFrame, list[Seen]]:
    """Run ``state = checkpoint(step(state, seen), *observe)`` for at
    most ``max_rounds`` rounds. ``seen`` is the list of the rounds'
    observed metrics so far, one dict per round; the loop stops after
    the first round for which ``converged(seen)`` holds. ``rows``, a
    row count the caller has observed, sizes the small-plan gate.
    Returns the last state and ``seen``, whose length is the number of
    rounds run."""
    spark = state.sparkSession
    gate = _gate(spark, rows)
    saved = {key: spark.conf.get(key) for key in gate}
    seen: list[Seen] = []
    try:
        for key, value in gate.items():
            spark.conf.set(key, value)
        for _ in range(max_rounds):
            state, metrics = checkpoint(step(state, seen), *observe)
            seen.append(metrics)
            if converged is not None and converged(seen):
                break
    finally:
        for key, value in saved.items():
            spark.conf.set(key, value)
    return state, seen
