"""EP1 end-to-end over a real loopback socket (r8 verdict #5).

``test_cm_api_http.py`` covers the fetch protocol; here the FULL
API-mode program (``plans.pipeline.run_api_sizing``: paged HTTP fetch →
flatten → skip-route → derive → classify → prune-route → aggregates →
sweep → reports H1-H5) runs against a recorded CM-shaped corpus served
by ``http.server`` — multi-page (one full page forces real pagination),
warning-bearing (window shrink fires mid-corpus), with skip rows
(missing ``memory_aggregate_peak``), prune rows (pod demand over the
limit), and non-QUERY rows (client-side type filter).

The headline assertion is EP1 ≡ EP2: the same surviving rows written to
a replay CSV and run through the EP2 program produce IDENTICAL report
values, plus hand-computed spot checks derived from the corpus
construction (row counts per route, pool set).

Reference: ``impala_query_sizing.py:309-341`` (API main) vs ``:344-383``
(replay main) — one shared computation after ingest.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from impala_base_to_cdw_sizing_spark.config import SizingParams
from impala_base_to_cdw_sizing_spark.plans.pipeline import (
    prepare_query_history,
    run_api_sizing,
    run_sizing,
)
from impala_base_to_cdw_sizing_spark.plans.reports import (
    collect_report_values,
    format_reports,
)
from impala_base_to_cdw_sizing_spark.sources.cm_api import (
    PAGE_SIZE,
    requests_fetcher,
)
from impala_base_to_cdw_sizing_spark.sources.files import (
    read_query_history_csv,
)

_GB = 1 << 30
_Q = 1 << 28  # 0.25 GB — quarter-GB steps make round(x/GB, 2) exact

# corpus shape: doc ids 0..1004 in the wide window, 2000..2006 in the
# shrunk window (distinct id space so the shrink visibly adds NEW rows)
_WIDE_IDS = list(range(PAGE_SIZE + 5))
_SHRUNK_IDS = list(range(2000, 2007))
_ALL_IDS = _WIDE_IDS + _SHRUNK_IDS


def _is_dml(i: int) -> bool:
    return i % 100 == 11

def _is_skip(i: int) -> bool:
    return i % 50 == 7

def _is_prune(i: int) -> bool:
    return i % 400 == 3


def _doc(i: int) -> dict:
    start_s = i  # seconds after the epoch-window base
    dur_ms = 1000 + (i % 600) * 100
    base_ms = 1704844800000  # 2024-01-10T00:00:00Z
    s_ms, e_ms = base_ms + start_s * 1000, base_ms + start_s * 1000 + dur_ms

    def iso(ms: int) -> str:
        from datetime import datetime, timezone

        t = datetime.fromtimestamp(ms / 1000, tz=timezone.utc)
        return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"

    attrs = {
        "pool": ("etl", "bi", "adhoc")[i % 3],
        "hdfs_bytes_read": str((i % 8) * _Q),
        "memory_spilled": str((i % 4) * _Q),
        "thread_cpu_time": str((i % 40) * 250),  # ms, quarter-second steps
        "admission_wait": str((i % 5) * 100),
        "num_backends": str(1 + i % 16),
    }
    if not _is_skip(i):
        # prune rows: 50 000 GB agg mem → ceil(50000/200) = 250 pods > 100
        attrs["memory_aggregate_peak"] = str(
            50_000 * _GB if _is_prune(i) else ((i % 6) + 1) * _Q
        )
    return {
        "queryId": f"q{i:05d}",
        "attributes": attrs,
        "startTime": iso(s_ms),
        "endTime": iso(e_ms),
        "durationMillis": dur_ms,
        "queryType": "DML" if _is_dml(i) else "QUERY",
        "queryState": "FINISHED",
        "user": f"u{i % 9}",
    }


class _CorpusHandler(BaseHTTPRequestHandler):
    """Scripted recorded corpus: full page → short warning page (window
    shrinks to 2024-01-15) → short clean page of additional rows."""

    def do_GET(self):  # noqa: N802
        from urllib.parse import parse_qs, urlparse

        qs = {k: v[0] for k, v in parse_qs(urlparse(self.path).query).items()}
        to, offset = qs.get("to", ""), int(qs.get("offset", "0"))
        if to == "2024-02-01":
            if offset == 0:
                body = {
                    "queries": [_doc(i) for i in _WIDE_IDS[:PAGE_SIZE]],
                    "warnings": [],
                }
            else:
                body = {
                    "queries": [_doc(i) for i in _WIDE_IDS[PAGE_SIZE:]],
                    "warnings": [
                        "Impala query scan limit reached. Last end time "
                        "considered is 2024-01-15"
                    ],
                }
        else:  # shrunk window
            body = {"queries": [_doc(i) for i in _SHRUNK_IDS], "warnings": []}
        payload = json.dumps(body).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def log_message(self, *args):
        pass


@pytest.fixture()
def corpus_server():
    srv = HTTPServer(("127.0.0.1", 0), _CorpusHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()
    t.join(timeout=5)


def _report_dicts(values) -> dict:
    return {
        "individual": values.individual,
        "concurrent": values.concurrent,
        "cluster_sizing": values.cluster_sizing,
        "query_counts": values.query_counts,
        "utilization": values.utilization,
    }


@pytest.mark.slow  # re-tiered r15: driver gate = fast tier; this test's coverage stays in the release gate (pytest -m "")
def test_ep1_full_program_equals_ep2_on_equivalent_data(
    spark, corpus_server, tmp_path
):
    params = SizingParams(
        from_date="2024-01-01",
        to_date="2024-02-01",
        cm_url=corpus_server,
        cluster_name="TestCluster",
        user_name="admin",
        password="s3cret",
    )

    # --- EP1: the full API-mode program over the loopback socket -------
    ep1 = run_api_sizing(spark, params)
    ep1_reports = collect_report_values(ep1, params)

    # hand-computed routing expectations from the corpus construction
    n_query = [i for i in _ALL_IDS if not _is_dml(i)]
    skip_ids = sorted(f"q{i:05d}" for i in n_query if _is_skip(i))
    prune_ids = sorted(
        f"q{i:05d}" for i in n_query if _is_prune(i) and not _is_skip(i)
    )
    accepted = [i for i in n_query if not _is_skip(i)]

    got_skip = sorted(
        r.query_id for r in ep1.routed.skipped.select("query_id").collect()
    )
    assert got_skip == skip_ids
    got_prune = sorted(
        r.query_id for r in ep1.routed.pruned.select("query_id").collect()
    )
    assert got_prune == prune_ids
    # G1: total counts accepted INCLUDING pruned (reference :215 vs :262)
    assert ep1_reports.individual["total_queries"] == len(accepted)
    assert ep1_reports.individual["prune_count"] == len(prune_ids)
    assert ep1_reports.individual["pools"] == ["adhoc", "bi", "etl"]

    # --- EP2: the same surviving rows as a replay CSV ------------------
    # (the reference's replay corpus is a prior export — skip rows never
    # reach it because EP1's skip route diverts them before the table)
    from impala_base_to_cdw_sizing_spark.sources.cm_api import (
        flatten_api_docs,
        load_api_queries,
    )

    fetch = requests_fetcher(
        corpus_server, "TestCluster", "admin", "s3cret"
    )
    flat = flatten_api_docs(
        load_api_queries(spark, fetch, "2024-01-01", "2024-02-01")
    ).filter("has_mem_metric")
    csv_dir = str(tmp_path / "replay_csv")
    (
        flat.select(
            "query_id", "pool", "start_time", "end_time", "duration_millis",
            "reqd_cache_gb", "reqd_agg_mem", "memory_spilled_gb",
            "cpu_time_sec", "query_type", "admission_wait", "num_backends",
        )
        .coalesce(1)
        .write.option("header", True)
        .mode("overwrite")
        .csv(csv_dir)
    )
    ep2 = run_sizing(
        prepare_query_history(read_query_history_csv(spark, csv_dir)), params
    )
    ep2_reports = collect_report_values(ep2, params)

    # the headline: every report section value-identical across programs
    assert _report_dicts(ep1_reports) == _report_dicts(ep2_reports)
    # and the rendered reference-format output is byte-identical
    assert format_reports(ep1_reports) == format_reports(ep2_reports)

    spark.catalog.clearCache()


@pytest.mark.slow  # subprocess JVM — release-gate tier (r8 verdict #8)
def test_ep1_cli_over_loopback(corpus_server, tmp_path):
    """The CLI surface in API mode (A1+A2 conf parse incl. the base64
    pfile secret, EP1 ingest, the three sinks, the printed reports) —
    the subprocess connects back to the loopback corpus server."""
    import base64
    import subprocess
    import sys
    from pathlib import Path

    pfile = tmp_path / "secret.b64"
    pfile.write_text(base64.b64encode(b"s3cret").decode())
    conf = tmp_path / "sizing.conf"
    conf.write_text(
        "\n".join(
            [
                f"cm_url={corpus_server}",
                "cluster_name=TestCluster",
                "user_name=admin",
                f"pfile={pfile}",
                "from=2024-01-01",
                "to=2024-02-01",
                f"output_file={tmp_path}/out_main",
                f"prune_output_file={tmp_path}/out_pruned",
                f"skip_query_file={tmp_path}/out_skipped",
            ]
        )
    )
    proc = subprocess.run(
        [sys.executable, "-m", "impala_base_to_cdw_sizing_spark", str(conf)],
        capture_output=True, text=True, timeout=300,
        cwd=str(Path(__file__).resolve().parent.parent),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    n_query = [i for i in _ALL_IDS if not _is_dml(i)]
    n_accepted = sum(1 for i in n_query if not _is_skip(i))
    assert f" Total Queries: {n_accepted}" in proc.stdout
    main_csv = "".join(
        p.read_text() for p in sorted((tmp_path / "out_main").glob("*.csv"))
    )
    assert main_csv.splitlines()[0].startswith("query_id,pool,start_time")
    # the skipped sink is pipe-delimited text (reference :198 format)
    skipped_txt = "".join(
        p.read_text() for p in (tmp_path / "out_skipped").glob("*.txt")
    )
    skip_ids = [f"q{i:05d}" for i in n_query if _is_skip(i)]
    assert all(q in skipped_txt for q in skip_ids)
    pruned_csv = "".join(
        p.read_text() for p in (tmp_path / "out_pruned").glob("*.csv")
    )
    prune_ids = [
        f"q{i:05d}" for i in n_query if _is_prune(i) and not _is_skip(i)
    ]
    assert all(q in pruned_csv for q in prune_ids)
    assert not any(q in main_csv for q in prune_ids + skip_ids)
