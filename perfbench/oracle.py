"""Independent numpy recomputation of the report values the benchmark
checks: total queries, the kept / pruned / skipped row counts and the
maximum number of concurrent queries.

It works from the generator's integer arrays, not from anything the
engine produced, and repeats the engine's double arithmetic op for op
(``operators/derive.py``, ``functions.round2``) so that route decisions
agree bit for bit. Parameters are the reference defaults the benchmark
configures (``config.SizingParams``)."""

from __future__ import annotations

import numpy as np

GB = 1024**3

POD_LIMIT = 100
CACHE_GB_PER_NODE = 1000
QUERY_MEM_PER_NODE = 200
SCRATCH_GB_PER_NODE = 1000
MEM_ADJUSTMENT_PCT = 100
CPU_ADJUSTMENT_PCT = 80
PARALLEL_FACTOR = 16.0  # max(mt_scaling_factor 5.40, vcores_per_node 16)


def _round2(x: np.ndarray) -> np.ndarray:
    return np.floor(x * 100.0 + 0.5) / 100.0


def measures(h: dict[str, np.ndarray], api: bool) -> dict[str, np.ndarray]:
    """The doubles the engine reads: CSV text ``12.34`` parses to the
    same double as ``1234 / 100``; API byte counts go through
    ``round2(bytes / GB)`` and ``round2(ms / 1000)``."""
    if not api:
        return {k: h[f"{k}_cents"] / 100.0 for k in ("cache", "mem", "spill", "cpu")}
    gb_per_cent = GB // 100
    return {
        "cache": _round2((h["cache_cents"] * gb_per_cent).astype(np.float64) / GB),
        "mem": _round2((h["mem_cents"] * gb_per_cent).astype(np.float64) / GB),
        "spill": _round2((h["spill_cents"] * gb_per_cent).astype(np.float64) / GB),
        "cpu": _round2((h["cpu_cents"] * 10).astype(np.float64) / 1000),
    }


def min_executor_pod(h: dict[str, np.ndarray], api: bool) -> np.ndarray:
    m = measures(h, api)
    dur_s = h["dur_ms"] / 1000.0
    min_par = np.ceil(m["cpu"] / dur_s).astype(np.int64)
    pod_cache = m["cache"] / CACHE_GB_PER_NODE
    pod_mem = ((m["mem"] * MEM_ADJUSTMENT_PCT) / 100) / QUERY_MEM_PER_NODE
    pod_cpu = ((CPU_ADJUSTMENT_PCT * min_par) / 100) / PARALLEL_FACTOR
    pod_spill = m["spill"] / SCRATCH_GB_PER_NODE
    raw = np.maximum.reduce([pod_cache, pod_mem, pod_cpu, pod_spill])
    return np.ceil(raw).astype(np.int64)


def max_concurrent(start_ms: np.ndarray, adm_ms: np.ndarray, end_ms: np.ndarray) -> int:
    """Sweep-line maximum of running queries, read at start events (start
    = start + admission wait, end = end time). The generator makes every
    event timestamp distinct, so no tie-break is involved."""
    if start_ms.size == 0:
        return 0
    ts = np.concatenate([start_ms + adm_ms, end_ms])
    sign = np.concatenate([np.ones(start_ms.size, np.int64), -np.ones(end_ms.size, np.int64)])
    order = np.argsort(ts, kind="stable")
    running = np.cumsum(sign[order])
    return int(running[sign[order] > 0].max())


def expected(h: dict[str, np.ndarray], api: bool) -> dict[str, int]:
    is_query = h["qtype"] == 0
    accepted = is_query & h["has_mem"]
    pod = min_executor_pod(h, api)
    kept = accepted & (pod <= POD_LIMIT)
    pruned = accepted & (pod > POD_LIMIT)
    return {
        "total_queries": int(accepted.sum()),
        "kept": int(kept.sum()),
        "pruned": int(pruned.sum()),
        "skipped": int((is_query & ~h["has_mem"]).sum()),
        "max_concurrent_queries": max_concurrent(
            h["start_ms"][kept], h["adm_ms"][kept], (h["start_ms"] + h["dur_ms"])[kept]
        ),
    }
