"""Seeded input generators for the benchmark workloads.

One core draws a synthetic Impala query history from a seed with numpy;
two writers render it as the engine's inputs:

- ``replay_csv``: the 12-column EP2 replay CSV the CLI reads;
- ``api_pages``: pre-rendered Cloudera Manager ``impalaQueries`` JSON
  pages, 1000 docs each, that ``cm_server.py`` serves.

Shape of the history: arrivals uniform over a two-day window, lognormal
durations (intervals overlap, so concurrency is non-trivial), Zipf-skewed
pools, a share of non-QUERY statements, a share of docs that lack
``memory_aggregate_peak`` (the skip route) and a share of queries whose
memory demand exceeds ``pod_limit`` (the prune route). Every sweep event
timestamp (start + admission wait, and end) is distinct, so the
concurrency maximum does not depend on how an engine breaks ties.

The arrays returned by :func:`draw_history` are the ground truth the
numpy oracle recomputes the expected report values from.

Run as a script to write one workload's inputs into a directory and
print a JSON manifest (rows, bytes and route shares)::

    python3 perfbench/gen.py replay_csv 7 .perfbench/inputs
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np

if __package__ in (None, ""):  # run as a script: make ``perfbench`` importable
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from perfbench import oracle  # noqa: E402

PAGE_SIZE = 1000
T0_MS = 1_626_048_000_000  # 2021-07-12T00:00:00Z
WINDOW_MS = 2 * 86_400_000

# input sizes at which the benchmark is stated
REPLAY_ROWS = 50_000
API_DOCS = 19_500  # 20 pages; the last one short, which ends the fetch


def draw_history(
    seed: int,
    n: int,
    non_query_share: float,
    missing_mem_share: float,
    pruned_share: float,
) -> dict[str, np.ndarray]:
    """Draw ``n`` queries. Measures are integer cents (GB or seconds) so
    that the CSV text and the oracle hold the same doubles."""
    rng = np.random.default_rng(seed)
    start = T0_MS + rng.integers(0, WINDOW_MS, n)
    dur = np.maximum(50, rng.lognormal(np.log(20_000), 1.2, n)).astype(np.int64)
    adm = (dur * rng.uniform(0.0, 0.2, n)).astype(np.int64)
    # re-draw rows until every sweep event timestamp is distinct
    while True:
        ts = np.concatenate([start + adm, start + dur])
        _, first = np.unique(ts, return_index=True)
        dup_pos = np.setdiff1d(np.arange(2 * n), first)
        if dup_pos.size == 0:
            break
        rows = np.unique(dup_pos % n)
        start[rows] = T0_MS + rng.integers(0, WINDOW_MS, rows.size)

    ranks = np.arange(1, 21)
    pool_w = 1.0 / ranks**1.1
    pool = rng.choice(20, n, p=pool_w / pool_w.sum())
    qtype = np.where(
        rng.random(n) < non_query_share, rng.choice([1, 2], n), 0
    )  # 0 QUERY, 1 DDL, 2 DML
    has_mem = rng.random(n) >= missing_mem_share
    pruned = rng.random(n) < pruned_share

    backends = rng.integers(1, 65, n)
    par = rng.integers(1, 65, n)
    cpu_cents = (dur * par) // 10  # cpu seconds * 100
    cache_cents = np.minimum(rng.lognormal(np.log(20), 2.0, n), 5_000) * 100
    mem_cents = np.minimum(rng.lognormal(np.log(8), 1.5, n), 1_500) * 100
    mem_cents = np.where(pruned, rng.uniform(25_000, 80_000, n) * 100, mem_cents)
    spill_cents = np.where(
        rng.random(n) < 0.2, rng.uniform(0, 500, n) * 100, 0
    )
    return {
        "id": np.arange(n),
        "pool": pool,
        "start_ms": start,
        "dur_ms": dur,
        "adm_ms": adm,
        "cache_cents": cache_cents.astype(np.int64),
        "mem_cents": mem_cents.astype(np.int64),
        "spill_cents": spill_cents.astype(np.int64),
        "cpu_cents": cpu_cents.astype(np.int64),
        "backends": backends,
        "qtype": qtype,
        "has_mem": has_mem,
    }


def replay_history(seed: int, n: int = REPLAY_ROWS) -> dict[str, np.ndarray]:
    """~10% non-QUERY rows, ~1% over the pod limit; the replay CSV has
    no skip route (every row carries its memory metric)."""
    return draw_history(seed, n, 0.10, 0.0, 0.01)


def api_history(seed: int, n: int = API_DOCS) -> dict[str, np.ndarray]:
    """~9% of docs lack ``memory_aggregate_peak``, ~1% over the pod
    limit; CM filters ``queryType=QUERY`` server-side, so all are QUERY."""
    return draw_history(seed + 1_000_003, n, 0.0, 0.09, 0.01)


_QTYPES = np.array(["QUERY", "DDL", "DML"])


def _iso(ms: np.ndarray) -> np.ndarray:
    text = np.datetime_as_string(ms.astype("datetime64[ms]"), unit="ms")
    return np.char.add(text, "Z")


def _cents(c: np.ndarray) -> list[str]:
    return [f"{v // 100}.{v % 100:02d}" for v in c.tolist()]


def write_replay_csv(h: dict[str, np.ndarray], path: Path) -> int:
    """The EP2 replay CSV; returns its size in bytes."""
    cols = [
        [f"q{i:07d}" for i in h["id"].tolist()],
        [f"root.pool_{p:02d}" for p in h["pool"].tolist()],
        _iso(h["start_ms"]).tolist(),
        _iso(h["start_ms"] + h["dur_ms"]).tolist(),
        [str(v) for v in h["dur_ms"].tolist()],
        _cents(h["cache_cents"]),
        _cents(h["mem_cents"]),
        _cents(h["spill_cents"]),
        _cents(h["cpu_cents"]),
        _QTYPES[h["qtype"]].tolist(),
        [str(v) for v in h["adm_ms"].tolist()],
        [str(v) for v in h["backends"].tolist()],
    ]
    header = (
        "query_id,pool,start_time,end_time,duration_millis,reqd_cache_gb,"
        "reqd_agg_mem,memory_spilled_gb,cpu_time_sec,query_type,"
        "admission_wait,num_backends"
    )
    body = "\n".join(",".join(row) for row in zip(*cols))
    data = (header + "\n" + body + "\n").encode()
    path.write_bytes(data)
    return len(data)


def api_bytes(cents: np.ndarray) -> np.ndarray:
    """The byte counts CM reports for a GB measure given in cents."""
    return cents * (oracle.GB // 100)


def write_api_pages(h: dict[str, np.ndarray], out_dir: Path) -> dict[int, int]:
    """One JSON file per page offset; returns {offset: bytes}."""
    out_dir.mkdir(parents=True, exist_ok=True)
    starts = _iso(h["start_ms"]).tolist()
    ends = _iso(h["start_ms"] + h["dur_ms"]).tolist()
    cache_b = api_bytes(h["cache_cents"]).tolist()
    mem_b = api_bytes(h["mem_cents"]).tolist()
    spill_b = api_bytes(h["spill_cents"]).tolist()
    cpu_ms = (h["cpu_cents"] * 10).tolist()
    docs = []
    for i in range(len(starts)):
        attrs = {
            "pool": f"root.pool_{int(h['pool'][i]):02d}",
            "hdfs_bytes_read": str(cache_b[i]),
            "memory_spilled": str(spill_b[i]),
            "thread_cpu_time": str(cpu_ms[i]),
            "admission_wait": str(int(h["adm_ms"][i])),
            "num_backends": str(int(h["backends"][i])),
        }
        if h["has_mem"][i]:
            attrs["memory_aggregate_peak"] = str(mem_b[i])
        docs.append(
            {
                "queryId": f"a{i:07d}",
                "startTime": starts[i],
                "endTime": ends[i],
                "durationMillis": int(h["dur_ms"][i]),
                "queryState": "FINISHED",
                "user": f"user{i % 97}",
                "queryType": str(_QTYPES[h["qtype"][i]]),
                "attributes": attrs,
            }
        )
    sizes = {}
    for offset in range(0, len(docs), PAGE_SIZE):
        page = {"queries": docs[offset:offset + PAGE_SIZE], "warnings": []}
        data = json.dumps(page, separators=(",", ":")).encode()
        (out_dir / f"page-{offset}.json").write_bytes(data)
        sizes[offset] = len(data)
    return sizes


def manifest(h: dict[str, np.ndarray], files_bytes: int, api: bool) -> dict:
    """Input size and route shares, with the oracle's expected values."""
    n = len(h["id"])
    exp = oracle.expected(h, api)
    return {
        "rows": n,
        "bytes": files_bytes,
        "non_query_share": round(float((h["qtype"] != 0).mean()), 4),
        "skipped_share": round(exp["skipped"] / n, 4),
        "pruned_share": round(exp["pruned"] / n, 4),
        "expected": exp,
    }


def generate(workload: str, seed: int, out_dir: Path) -> dict:
    """Write one workload's inputs under ``out_dir``; returns its manifest."""
    out_dir.mkdir(parents=True, exist_ok=True)
    if workload == "replay_csv":
        h = replay_history(seed)
        size = write_replay_csv(h, out_dir / "query_history.csv")
        return manifest(h, size, api=False)
    if workload == "api_pages":
        h = api_history(seed)
        sizes = write_api_pages(h, out_dir / "pages")
        return {
            **manifest(h, sum(sizes.values()), api=True),
            "page_bytes": {str(k): v for k, v in sizes.items()},
        }
    raise ValueError(f"unknown workload {workload!r}")


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit("usage: gen.py <replay_csv|api_pages> <seed> <out_dir>")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), Path(sys.argv[3]))))
