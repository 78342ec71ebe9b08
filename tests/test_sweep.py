"""Sweep-line properties: brute-force equivalence and segmented ≡ global."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from impala_base_to_cdw_sizing_spark.operators.sweep import (
    _N_BUCKETS,
    MEASURES,
    explode_events,
    running_sums,
    sweep_maxima,
)

KEPT_SCHEMA = (
    "seq long, start_ms long, end_ms long, admission_wait long, "
    "num_backends long, reqd_cache_gb double, reqd_agg_mem double, "
    "memory_spilled_gb double, avg_vcores double, avg_data_rate double, "
    "min_executor_pod_raw double"
)


def _random_kept(n: int, seed: int):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        start = rng.randrange(0, 10_000)
        dur = rng.randrange(1, 2_000)
        rows.append(
            (
                i, start, start + dur, rng.randrange(0, 5),
                rng.randrange(1, 8),
                round(rng.uniform(0, 100), 2), round(rng.uniform(0, 100), 2),
                round(rng.uniform(0, 50), 2), round(rng.uniform(0, 16), 2),
                round(rng.uniform(0, 10), 2), round(rng.uniform(0, 120), 2),
            )
        )
    return rows


def brute_force_max_concurrency(rows) -> int:
    """Reference semantics (impala_query_sizing.py:372-383): sort events,
    running count, max only at start events; ties ordered (ts, seq, start-first)."""
    events = []
    for r in rows:
        seq, start, end, wait = r[0], r[1], r[2], r[3]
        events.append((start + wait, seq, 0, +1))  # sign DESC: start first
        events.append((end, seq, 1, -1))
    events.sort()
    cur = best = 0
    for _, _, _, delta in events:
        cur += delta
        if delta > 0:
            best = max(best, cur)
    return best


def test_sweep_matches_brute_force(spark):
    for seed in (1, 7, 42):
        rows = _random_kept(60, seed)
        kept = spark.createDataFrame(rows, KEPT_SCHEMA)
        maxima = sweep_maxima(explode_events(kept)).collect()[0]
        assert maxima.max_concurrent_queries == brute_force_max_concurrency(rows)


def _micro(x: float) -> int:
    # the engine's quantization, same IEEE op sequence: floor(x*1e6 + 0.5)
    return math.floor(x * 1_000_000.0 + 0.5)


def python_running_sums(rows) -> list[tuple]:
    """One global running sum over the (ts_ms, seq, sign DESC) order —
    the single-window semantics of the DuckDB oracle, in plain Python."""
    events = []
    for seq, start, end, wait, nb, cache, mem, spill, cpu, rate, pods in rows:
        micro = [
            _micro(pods), _micro(cache / nb), _micro(mem / nb),
            _micro(cpu), _micro(spill / nb), _micro(rate),
        ]
        events.append((start + wait, seq, 1, micro))
        events.append((end, seq, -1, [-u for u in micro]))
    events.sort(key=lambda e: (e[0], e[1], -e[2]))
    out, n_queries, run = [], 0, [0] * len(MEASURES)
    for pos, (ts, seq, sign, micro) in enumerate(events, start=1):
        n_queries += sign
        run = [r + u for r, u in zip(run, micro)]
        out.append(
            (seq, ts, sign, n_queries, *[r / 1_000_000.0 for r in run], pos)
        )
    return out


def _tied_rows() -> list[tuple]:
    rng = random.Random(99)
    rows = []
    for i in range(300):
        # a 20 ms grid makes starts, ends and admission-shifted starts
        # collide, so the (seq, sign) tie-breaks decide the order
        start = rng.randrange(0, 100) * 20
        rows.append(
            (
                i, start, start + rng.randrange(1, 50) * 20,
                rng.randrange(0, 3) * 20, rng.randrange(1, 8),
                round(rng.uniform(0, 100), 2), round(rng.uniform(0, 100), 2),
                round(rng.uniform(0, 50), 2), round(rng.uniform(0, 16), 2),
                round(rng.uniform(0, 10), 2), round(rng.uniform(0, 120), 2),
            )
        )
    return rows


def test_segmented_equals_global(spark):
    """The segmented sweep (per-bucket windows + carry-in) equals one
    global running sum exactly, on input with many tied timestamps spread
    over most of the buckets."""
    rows = _tied_rows()
    expect = python_running_sums(rows)
    ts = [e[1] for e in expect]
    assert len(set(ts)) < len(ts) // 4  # heavily tied
    span = (max(ts) - min(ts)) // _N_BUCKETS + 1
    assert len({(t - min(ts)) // span for t in ts}) > _N_BUCKETS // 2

    kept = spark.createDataFrame(rows, KEPT_SCHEMA)
    got = running_sums(explode_events(kept)).orderBy("event_pos").collect()
    assert len(got) == len(expect) == 600
    for g, e in zip(got, expect):
        # integer micro-unit arithmetic → exact equality, no tolerance
        assert tuple(g) == e, f"divergence at event_pos={e[-1]}: {g} vs {e}"


def test_end_events_cancel_to_zero(spark):
    rows = _random_kept(40, seed=3)
    kept = spark.createDataFrame(rows, KEPT_SCHEMA)
    last = (
        running_sums(explode_events(kept))
        .orderBy(F.col("event_pos").desc())
        .limit(1)
        .collect()[0]
    )
    assert last.run_queries == 0
    for m in ("run_pods", "run_cache", "run_mem", "run_cpu", "run_spill"):
        assert getattr(last, m) == 0.0, m


def test_maxima_equal_global_running_maxima(spark):
    """The per-bucket maxima equal the maxima of one global running sum
    over the start events, and the max-pods timestamp is the latest event
    holding the largest ``run_pods`` (``SWEEP_MAXIMA_SQL``'s order)."""
    rows = _tied_rows()
    starts = [e for e in python_running_sums(rows) if e[2] > 0]
    want = (
        max(e[3] for e in starts),
        *[max(e[4 + i] for e in starts) for i in range(len(MEASURES))],
        max(starts, key=lambda e: (e[4], e[-1]))[1],
    )
    kept = spark.createDataFrame(rows, KEPT_SCHEMA)
    assert tuple(sweep_maxima(explode_events(kept)).collect()[0]) == want
