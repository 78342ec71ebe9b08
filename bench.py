"""Benchmark harness: runs every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line: {"metric", "value" (total sec), "unit", "queries"
(the 12 sizing rows + ep2 — the r1-era headline subset), "legacy50_total",
"sf", "reps", "detail_file", ...}.

The FULL per-query map lives in the committed ``BENCH_DETAIL_r{N}.json``
next to this file (r11 verdict #3: with 126 declared queries the
all-inclusive stdout line outgrew the driver's 2000-char tail capture,
so BENCH_r11.json recorded ``parsed: null`` — the compact line is sized
to always fit; the detail file carries everything the line used to).

Each query is forced end-to-end with the noop sink (full column
materialization — a bare count() would let Catalyst prune the work).

Noise robustness (r3 verdict #6): single-pass local timings showed up to
4.5x machine-noise spread on identical code, so the suite runs
``--reps N`` full passes (default 3, or $SPARK_GRAFT_REPS) and reports
the per-query MIN across passes. The cache is cleared between passes so
every rep pays the same intra-pass plan-keyed cache sharing.

Isolation mode (r11 verdict #7): shared-JVM contamination (GC pressure,
cache adjacency under the rotation's changing pass order) made three
rounds of per-query regressions attributable only by essay. The default
run therefore ALSO re-times ``_ISOLATED_QUERIES`` each in its own fresh
subprocess JVM (``--one NAME`` child mode) and records both numbers plus
the 1-min load average per rep — an in-pass movement that vanishes under
isolation is harness weather, mechanically. ``--isolate a,b`` overrides
the list; ``--isolate none`` (or SPARK_GRAFT_ISOLATE=none) skips it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

# the r11 weak list + drift watch: per-query isolation recorded by default
_ISOLATED_QUERIES = (
    "graph_ppr",
    "mm_phash_neardup",
    "ep2_full_pipeline",
    "rel_scalar_funcs",
    # new in r13 — isolated band recorded from its first round
    "ep1_api_pipeline",
)


def _arg(flag: str) -> str | None:
    argv = sys.argv[1:]
    if flag in argv:
        return argv[argv.index(flag) + 1]
    for a in argv:
        if a.startswith(flag + "="):
            return a.split("=", 1)[1]
    return None


def _reps_from_argv() -> int:
    v = _arg("--reps")
    if v is not None:
        return max(1, int(v))
    return max(1, int(os.environ.get("SPARK_GRAFT_REPS", "3")))


def _run_ep2(spark, sf_dir: str) -> float:
    """ONE full EP2 pipeline pass (the reference's whole program —
    derive+classify+route+aggregates+sweep+reports off a single cached
    derive), comparable to the reference's single-node end-to-end run."""
    t0 = time.perf_counter()
    from impala_base_to_cdw_sizing_spark.config import DEFAULT_PARAMS
    from impala_base_to_cdw_sizing_spark.plans.pipeline import run_sizing
    from impala_base_to_cdw_sizing_spark.plans.reports import (
        collect_report_values,
    )
    from impala_base_to_cdw_sizing_spark.sources.synthetic import (
        query_history_from_events,
    )

    res = run_sizing(query_history_from_events(spark, sf_dir), DEFAULT_PARAMS)
    collect_report_values(res, DEFAULT_PARAMS)  # forces every branch
    # unpersist the frames that actually hold the caches (kept is a
    # filter over derived, unpersisting it was a no-op)
    res.routed.derived.unpersist()
    return round(time.perf_counter() - t0, 3)


def _ep1_doc(i: int) -> dict:
    """CM-shaped API doc ``i`` (same field surface as the EP1 e2e test's
    recorded corpus, self-contained so bench.py doesn't import tests/)."""
    gb = 1024 * 1024 * 1024
    base_ms = 1704844800000  # 2024-01-10T00:00:00Z
    dur_ms = 1000 + (i % 600) * 100
    s_ms = base_ms + i * 1000

    def iso(ms: int) -> str:
        import datetime as dt

        t = dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc)
        return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"

    attrs = {
        "pool": ("etl", "bi", "adhoc")[i % 3],
        "hdfs_bytes_read": str((i % 8) * gb // 4),
        "memory_spilled": str((i % 4) * gb // 4),
        "thread_cpu_time": str((i % 40) * 250),
        "admission_wait": str((i % 5) * 100),
        "num_backends": str(1 + i % 16),
    }
    if i % 11:  # ~9% of docs take the D1 missing-metric skip route
        attrs["memory_aggregate_peak"] = str(((i % 6) + 1) * gb // 4)
    return {
        "queryId": f"q{i:06d}",
        "attributes": attrs,
        "startTime": iso(s_ms),
        "endTime": iso(s_ms + dur_ms),
        "durationMillis": dur_ms,
        "queryType": "QUERY",
        "queryState": "FINISHED",
        "user": f"u{i % 9}",
    }


def _run_ep1(spark, sf_dir: str) -> float:
    """ONE EP1 ingestion pass at bench scale (r12 verdict task 7): a
    loopback ``http.server`` serves as many CM-shaped docs as the sf
    dir has events rows in 1000-row pages; the timed region is the real
    paged REST client (``requests_fetcher`` → ``fetch_pages`` → per-page
    Arrow record batches → ONE ``createDataFrame``, the r13 union-chain
    fix, returned through a lazy ``localCheckpoint`` so the plan starts
    at a ``LogicalRDD`` rather than a ``LocalRelation`` that Catalyst
    would fold on the driver) plus the C1-C4 flatten, forced end-to-end
    with the noop sink: the flatten runs as whole-stage codegen in that
    one job. Doc/JSON generation happens server-side OUTSIDE the page
    cache so serialization cost stays in the measurement only once per
    page, like a real CM host."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from impala_base_to_cdw_sizing_spark.sources.cm_api import (
        PAGE_SIZE,
        flatten_api_docs,
        load_api_queries,
        requests_fetcher,
    )

    n_docs = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    page_cache: dict[int, bytes] = {}

    def page_bytes(offset: int) -> bytes:
        body = page_cache.get(offset)
        if body is None:
            docs = [_ep1_doc(i) for i in range(offset, min(offset + PAGE_SIZE, n_docs))]
            body = json.dumps({"queries": docs, "warnings": []}).encode()
            page_cache[offset] = body
        return body

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            from urllib.parse import parse_qs, urlparse

            offset = int(parse_qs(urlparse(self.path).query).get("offset", ["0"])[0])
            body = page_bytes(offset)
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        fetch = requests_fetcher(
            f"http://127.0.0.1:{srv.server_address[1]}", "bench", "u", "p"
        )
        t0 = time.perf_counter()
        docs = load_api_queries(spark, fetch, "2024-01-10", "2024-01-20")
        flatten_api_docs(docs).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)
    finally:
        srv.shutdown()
        srv.server_close()


def _run_pass(spark, sf_dir: str, ent) -> dict[str, float]:
    timings: dict[str, float] = {}
    qs = ent.queries()
    # canonical, rotation-independent order (r12): identical cache
    # adjacency every round — see canonical_query_order's docstring
    for name in ent.canonical_query_order():
        fn = qs[name]
        # guide §1.5: label each query's jobs so the UI/event log reads
        spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        spark.sparkContext.setJobDescription(None)
    timings["ep2_full_pipeline"] = _run_ep2(spark, sf_dir)
    timings["ep1_api_pipeline"] = _run_ep1(spark, sf_dir)
    return timings


def _build_session(sf_dir: str):
    from impala_base_to_cdw_sizing_spark.session import build_spark

    # width scales with the input dir (r10 verdict #6) — at sf0.1 this
    # stays at the core count, so driver-bench numbers are comparable;
    # >=sf1 runs get the measured wider-shuffle remediation automatically
    spark = build_spark("bench", data_dir=sf_dir)
    # warm the JVM + parquet footers so per-query numbers measure the
    # queries, not session startup
    spark.read.parquet(f"{sf_dir}/events.parquet").count()
    return spark


def _one_query_mode(sf_dir: str, sf: float, name: str, reps: int) -> None:
    """Child mode: fresh JVM, one query, ``reps`` timings + load avg."""
    import __spark_entry__ as ent

    spark = _build_session(sf_dir)
    times, loads = [], []
    for _ in range(reps):
        loads.append(round(os.getloadavg()[0], 2))
        if name == "ep2_full_pipeline":
            times.append(_run_ep2(spark, sf_dir))
        elif name == "ep1_api_pipeline":
            times.append(_run_ep1(spark, sf_dir))
        else:
            fn = ent.queries()[name]
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
        spark.catalog.clearCache()
        from impala_base_to_cdw_sizing_spark import memo

        memo.clear()
    print(json.dumps(
        {"query": name, "sf": sf, "times": times, "min": min(times),
         "loadavg1": loads}
    ))


def _isolated_runs(sf_dir: str, reps: int) -> dict[str, dict]:
    """Re-time each weak-list query in its own subprocess JVM."""
    names_arg = _arg("--isolate") or os.environ.get("SPARK_GRAFT_ISOLATE")
    if names_arg == "none":
        return {}
    names = (
        [n for n in names_arg.split(",") if n]
        if names_arg
        else list(_ISOLATED_QUERIES)
    )
    out: dict[str, dict] = {}
    for name in names:
        try:
            proc = subprocess.run(
                [sys.executable, str(Path(__file__).resolve()),
                 "--one", name, "--reps", str(reps)],
                capture_output=True, text=True,
                env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
                timeout=1200,
            )
        except subprocess.TimeoutExpired as exc:
            # one hung child must not sink the round's detail file +
            # stdout line (r12 ADVICE): record and keep going
            out[name] = {
                "query": name,
                "error": f"isolated run timed out after {exc.timeout}s",
            }
            continue
        rec = None
        for line in reversed(proc.stdout.strip().splitlines()):
            try:
                cand = json.loads(line)
            except (json.JSONDecodeError, ValueError):
                continue
            if isinstance(cand, dict) and cand.get("query") == name:
                rec = cand
                break
        out[name] = rec if rec is not None else {
            "query": name, "error": (proc.stderr or "no output")[-400:]
        }
    return out


def _streaming_mode() -> None:
    """Micro-batch bench of the streaming tier (r12 verdict task 5):
    drives all five stateful operators through ``loadgen`` (file source,
    one pre-written parquet file per trigger — deterministic, no
    wall-clock coupling) and prints ONE JSON line with rows/s, mean
    batch latency, and the state-store maxima vs their structural
    bounds. ``--batches N`` (default 100) sets the trigger count and
    ``--scale N`` (default 1) multiplies the rows per trigger; run it as
    ``python bench.py --streaming``."""
    import shutil
    import tempfile

    n_batches = int(_arg("--batches") or 100)
    scale = int(_arg("--scale") or 1)

    from impala_base_to_cdw_sizing_spark.session import build_spark
    from impala_base_to_cdw_sizing_spark.streaming import loadgen as lg

    spark = build_spark("stream-bench")
    workdir = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        runs = {
            "heavyhitters": lg.run_heavyhitters_load(
                spark, workdir, n_batches=n_batches, rows_per_batch=500 * scale
            ),
            "neardup_ttl": lg.run_neardup_load(
                spark, workdir, n_batches=n_batches, docs_per_key=10 * scale
            ),
            "session": lg.run_session_load(
                spark, workdir, n_batches=n_batches, rows_per_batch=500 * scale
            ),
            "sweep": lg.run_sweep_load(
                spark, workdir, n_batches=n_batches, rows_per_batch=500 * scale
            ),
            "kmv": lg.run_kmv_load(
                spark, workdir, n_batches=n_batches, rows_per_type=125 * scale
            ),
        }
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    ops = {}
    # the state-bound gate must survive `python -O` (r13 ADVICE: a bare
    # assert is stripped and the line prints green with the bound check
    # silently gone) — collect violations and fail loudly below
    bound_violations = []
    for name, r in runs.items():
        if r["state_rows_max"] > r["state_bound"]:
            bound_violations.append(
                f"{name}: state rows {r['state_rows_max']} exceeded the "
                f"structural bound {r['state_bound']} at scale {scale}"
            )
        ops[name] = {
            "rows_per_sec": r["rows_per_sec"],
            "batch_latency_ms": round(1000.0 * r["busy_sec"] / r["batches"], 1),
            "input_rows": r["input_rows"],
            "state_rows_max": r["state_rows_max"],
            "state_bound": r["state_bound"],
            "state_bytes_max": r["state_bytes_max"],
        }
    line = {
        "metric": "stream_bench",
        "value": round(sum(r["busy_sec"] for r in runs.values()), 3),
        "unit": "sec",
        "n_batches": n_batches,
        "scale": scale,
        "operators": ops,
    }
    if bound_violations:
        line["error"] = "; ".join(bound_violations)
        print(json.dumps(line))
        raise SystemExit(1)
    print(json.dumps(line))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    reps = _reps_from_argv()

    if "--streaming" in sys.argv[1:]:
        _streaming_mode()
        return

    one = _arg("--one")
    if one:
        _one_query_mode(sf_dir, sf, one, reps)
        return

    import __spark_entry__ as ent
    from impala_base_to_cdw_sizing_spark import memo

    spark = _build_session(sf_dir)
    shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    passes, pass_loads = [], []
    for _ in range(reps):
        pass_loads.append(round(os.getloadavg()[0], 2))
        passes.append(_run_pass(spark, sf_dir, ent))
        # reset cross-query cache sharing so every pass is like-for-like
        spark.catalog.clearCache()
        memo.clear()

    timings = {name: min(p[name] for p in passes) for name in passes[0]}
    total = round(sum(timings.values()), 3)
    # the declared tier widened from 50 queries in r9+ (flagship
    # promotions, sizing_report_values, sizing_api_flatten); the
    # r1-comparable number for the <=2x baseline gate is the subtotal
    # over the original registry (BASELINE.md records both)
    from impala_base_to_cdw_sizing_spark.operators.queries_ext import PROMOTED

    post_r1 = set(PROMOTED) | {
        "sizing_report_values", "sizing_api_flatten", "ep1_api_pipeline",
    }
    legacy50 = round(sum(t for n, t in timings.items() if n not in post_r1), 3)

    # stop the shared-pass session before the isolated JVMs spin up so
    # they do not compete with it for cores
    spark.stop()
    isolated = _isolated_runs(sf_dir, reps)

    # full per-query evidence -> committed detail file (never stdout:
    # the driver's tail capture holds 2000 chars and 3x88 entries broke
    # it in r11)
    # --round pins the detail-file name explicitly (r13 verdict: a
    # quiet-close re-run AFTER the driver writes CORRECTNESS_r{N} sees
    # _round_number() = N+1 and mislabels the file); default is the
    # MID-ROUND-AWARE inference (r14 verdict #3: the driver benches
    # after writing CORRECTNESS_r{N}, so `max(CORRECTNESS)+1` labeled
    # the driver's own round-N run "N+1" — if the newest CORRECTNESS
    # round has no BENCH_r{N}.json yet, that round is still in flight
    # and THIS run belongs to it), and the stdout manifest
    # self-describes either way via the "round" field
    explicit = _arg("--round") or os.environ.get("SPARK_GRAFT_ROUND")
    if explicit:
        round_no = int(explicit)
    else:
        round_no = ent._round_number()  # max(CORRECTNESS rounds) + 1
        here = Path(__file__).resolve().parent
        latest = round_no - 1
        if latest >= 1 and not (here / f"BENCH_r{latest:02d}.json").exists():
            round_no = latest
    # cpu-count-suffixed name (r14 verdict #3: the driver's 8-core
    # scaling run overwrote the 32-core run's detail — same round, same
    # name); a 32c and an 8c run of one round now coexist on disk
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    detail_file = f"BENCH_DETAIL_r{round_no:02d}_c{cpus}.json"
    detail = {
        "round": round_no,
        "sf": sf,
        "reps": reps,
        "shuffle_partitions": shuffle_partitions,
        "suite_total": total,
        "legacy50_total": legacy50,
        "queries_min": timings,
        "passes": passes,
        "loadavg1_per_pass": pass_loads,
        "isolated": isolated,
    }
    (Path(__file__).resolve().parent / detail_file).write_text(
        json.dumps(detail, indent=1, sort_keys=True) + "\n"
    )

    # probe runs (scaling exponents via tools/scaling_report.py) want the
    # whole map inline and are not tail-capture-bound; the driver default
    # stays compact
    if os.environ.get("SPARK_GRAFT_BENCH_FULL"):
        sizing_subset = timings
    else:
        sizing_subset = {
            n: t for n, t in timings.items()
            if n.startswith("sizing_") or n == "ep2_full_pipeline"
        }
    print(
        json.dumps(
            {
                "metric": "suite_total",
                "value": total,
                "unit": "sec",
                # compact headline subset — the FULL per-query map is in
                # detail_file (see module docstring)
                "queries": sizing_subset,
                "n_queries": len(timings),
                "legacy50_total": legacy50,
                "isolated_min": {
                    n: r.get("min") for n, r in isolated.items()
                },
                "sf": sf,
                "reps": reps,
                "round": round_no,
                "shuffle_partitions": shuffle_partitions,
                # 1-min load average sampled at each pass start (r14
                # verdict #3, additions-only): lets PERF separate box
                # weather from code without detail-file archaeology
                "loadavg1_per_pass": pass_loads,
                "detail_file": detail_file,
            }
        )
    )


if __name__ == "__main__":
    main()
