"""The benchmark workloads. Each drives the engine only through its
public functions, checks every iteration's outputs against the numpy
oracle outside the timed region, and names the engine calls a traced
iteration wraps in spans.

- ``replay_csv``: the EP2 CLI run, ``__main__.main`` on a replay CSV —
  read, derive, classify, route, three CSV sinks, reports.
- ``api_pages``: EP1, ``run_api_sizing`` over a loopback CM server with
  the production ``requests_fetcher`` injected, then
  ``collect_report_values``; no sinks.
"""

from __future__ import annotations

import contextlib
import io
import re
import subprocess
import sys
import time
from pathlib import Path

PERFBENCH = Path(__file__).resolve().parent


def _report_value(text: str, pattern: str) -> int | None:
    m = re.search(pattern, text)
    return int(m.group(1)) if m else None


def count_csv_rows(out_dir: Path) -> int:
    """Data rows of a Spark CSV output directory (one header per part)."""
    if not out_dir.exists():
        return 0
    rows = 0
    for part in out_dir.glob("part-*"):
        lines = part.read_bytes().count(b"\n")
        rows += max(0, lines - 1)
    return rows


def count_lines(out_dir: Path) -> int:
    if not out_dir.exists():
        return 0
    return sum(p.read_bytes().count(b"\n") for p in out_dir.glob("part-*"))


def _sink_extra(args, kwargs, result) -> dict[str, float]:
    paths = [Path(kwargs[k]) for k in ("main_path", "pruned_path", "skipped_path")]
    files = [p for d in paths if d.exists() for p in d.glob("part-*")]
    return {
        "bytes_out": sum(p.stat().st_size for p in files),
        "files_out": len(files),
        "rows_kept": result["kept"],
        "rows_pruned": result["pruned"],
        "rows_skipped": result["skipped"],
    }


def _compare(expected: dict[str, int], got: dict[str, int | None]) -> list[str]:
    return [
        f"{k}: engine {got[k]} != oracle {expected[k]}"
        for k in got
        if got[k] != expected[k]
    ]


class ReplayCsv:
    name = "replay_csv"

    def __init__(self, spark, inputs: Path, work: Path, manifest: dict) -> None:
        self.expected = manifest["expected"]
        self.out = work / "out"
        self.conf = work / "sizing.conf"
        self.conf.write_text(
            f"input_file={inputs / 'query_history.csv'}\n"
            f"output_file={self.out / 'sizing.csv'}\n"
            f"prune_output_file={self.out / 'sizing.pruned.csv'}\n"
            f"skip_query_file={self.out / 'sizing.skipped'}\n"
            "pod_limit=100\n"
        )
        self.ops = 0
        self.failed_ops = 0

    def run_once(self):
        from impala_base_to_cdw_sizing_spark import __main__ as cli

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(["cdw-sizing", str(self.conf)])
        return rc, buf.getvalue()

    def check(self, out) -> list[str]:
        rc, text = out
        if rc != 0:
            return [f"cdw-sizing exited {rc}: {text[-300:]}"]
        got = {
            "total_queries": _report_value(text, r"Total Queries: (\d+)"),
            "pruned": _report_value(text, r"Queries Over Pod Limit \( \d+ \): (\d+)") or 0,
            "max_concurrent_queries": _report_value(text, r"Max Concurrent Queries: (\d+)"),
            "kept": count_csv_rows(self.out / "sizing.csv"),
            "skipped": count_lines(self.out / "sizing.skipped"),
        }
        errors = _compare(self.expected, got)
        pruned_rows = count_csv_rows(self.out / "sizing.pruned.csv")
        if pruned_rows != self.expected["pruned"]:
            errors.append(f"pruned sink rows {pruned_rows} != oracle {self.expected['pruned']}")
        return errors

    def trace_targets(self) -> list:
        from impala_base_to_cdw_sizing_spark import sinks
        from impala_base_to_cdw_sizing_spark.plans import pipeline, reports
        from impala_base_to_cdw_sizing_spark.sources import files

        return [
            (files, "read_query_history_csv", "sources.files.read_query_history_csv", None),
            (pipeline, "prepare_query_history", "plans.pipeline.prepare_query_history", None),
            (pipeline, "run_sizing", "plans.pipeline.run_sizing", None),
            (sinks, "write_sizing_outputs", "sinks.write_sizing_outputs", _sink_extra),
            (reports, "collect_report_values", "plans.reports.collect_report_values", None),
        ]

    def iteration_stats(self) -> dict[str, float]:
        return {}

    def close(self) -> None:
        pass


class ApiPages:
    """EP1 over one keep-alive connection to a single-threaded loopback
    CM server in its own process."""

    name = "api_pages"

    def __init__(self, spark, inputs: Path, work: Path, manifest: dict) -> None:
        from impala_base_to_cdw_sizing_spark.config import SizingParams
        from impala_base_to_cdw_sizing_spark.sources import cm_api

        self.spark = spark
        self.expected = manifest["expected"]
        self.page_bytes = {int(k): v for k, v in manifest["page_bytes"].items()}
        port_file = work / "cm_server.port"
        self.server = subprocess.Popen(
            [sys.executable, str(PERFBENCH / "cm_server.py"), str(inputs / "pages"),
             str(port_file)],
            stdin=subprocess.DEVNULL,
        )
        try:
            deadline = time.monotonic() + 60
            while not port_file.exists():
                if self.server.poll() is not None or time.monotonic() > deadline:
                    raise RuntimeError("loopback CM server did not start")
                time.sleep(0.05)
            url = f"http://127.0.0.1:{port_file.read_text()}"
            self.params = SizingParams(cm_url=url, cluster_name="cluster1", pod_limit=100)
            self._fetch = cm_api.requests_fetcher(url, "cluster1", "admin", "admin")
        except BaseException:
            self.close()
            raise
        self.ops = 0
        self.failed_ops = 0
        self._reset_page_stats()

    def _reset_page_stats(self) -> None:
        self.pages = 0
        self.bytes = 0
        self.rows = 0
        self.page_ms: list[float] = []

    def fetch(self, from_date, to_date, pool, offset):
        self.ops += 1
        t0 = time.perf_counter()
        try:
            page = self._fetch(from_date, to_date, pool, offset)
        except Exception:
            self.failed_ops += 1
            raise
        self.page_ms.append((time.perf_counter() - t0) * 1e3)
        self.pages += 1
        self.rows += len(page.get("queries", []))
        self.bytes += self.page_bytes.get(offset, 0)
        return page

    def run_once(self):
        from impala_base_to_cdw_sizing_spark.plans import pipeline, reports

        self._reset_page_stats()
        result = pipeline.run_api_sizing(self.spark, self.params, fetcher=self.fetch)
        return result, reports.collect_report_values(result, self.params)

    def check(self, out) -> list[str]:
        result, values = out
        got = {
            "total_queries": values.individual["total_queries"],
            "pruned": values.individual["prune_count"],
            "max_concurrent_queries": values.concurrent["max_concurrent_queries"],
            "kept": result.routed.kept.count(),
            "skipped": result.routed.skipped.count(),
        }
        return _compare(self.expected, got)

    def _load_extra(self, args, kwargs, result) -> dict[str, float]:
        return {"pages": self.pages, "bytes": self.bytes, "rows": self.rows}

    def trace_targets(self) -> list:
        from impala_base_to_cdw_sizing_spark.plans import pipeline, reports
        from impala_base_to_cdw_sizing_spark.sources import cm_api

        return [
            (pipeline, "run_api_sizing", "plans.pipeline.run_api_sizing", None),
            (cm_api, "load_api_queries", "sources.cm_api.load_api_queries", self._load_extra),
            (pipeline, "prepare_query_history", "plans.pipeline.prepare_query_history", None),
            (pipeline, "run_sizing", "plans.pipeline.run_sizing", None),
            (reports, "collect_report_values", "plans.reports.collect_report_values", None),
        ]

    def iteration_stats(self) -> dict[str, float]:
        return {"pages": self.pages, "page_ms": list(self.page_ms)}

    def close(self) -> None:
        if self.server.poll() is None:
            self.server.terminate()
        self.server.wait(timeout=30)


WORKLOADS = {w.name: w for w in (ReplayCsv, ApiPages)}
