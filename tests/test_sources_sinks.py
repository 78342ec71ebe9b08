"""CM API source protocol (A3/A4), CSV sinks (B1-B3), multimodal plumbing,
and report assembly."""

from __future__ import annotations

from pathlib import Path

import pytest

from impala_base_to_cdw_sizing_spark.config import DEFAULT_PARAMS
from impala_base_to_cdw_sizing_spark.operators.multimodal import (
    decode_media,
    with_payload,
)
from impala_base_to_cdw_sizing_spark.plans.pipeline import run_sizing
from impala_base_to_cdw_sizing_spark.plans.reports import (
    collect_report_values,
    format_reports,
)
from impala_base_to_cdw_sizing_spark.schemas import SIZE_ORDER
from impala_base_to_cdw_sizing_spark.sinks import write_sizing_outputs
from impala_base_to_cdw_sizing_spark.sources.cm_api import (
    fetch_pages,
    flatten_api_docs,
    load_api_queries,
)
from impala_base_to_cdw_sizing_spark.sources.synthetic import (
    query_history_from_events,
)

from tests.conftest import SF_SMALL


def _doc(i: int, with_mem: bool = True) -> dict:
    attrs = {
        "pool": "etl",
        "hdfs_bytes_read": str(i * 1024**3),
        "memory_spilled": "0",
        "thread_cpu_time": "12000",
        "admission_wait": "5",
        "num_backends": "4",
    }
    if with_mem:
        attrs["memory_aggregate_peak"] = str(2 * 1024**3)
    return {
        "queryId": f"api-{i}",
        "startTime": "2021-07-12T00:00:01.123Z",
        "endTime": "2021-07-12T00:00:05.000Z",
        "durationMillis": 4000,
        "queryState": "FINISHED",
        "user": "u1",
        "queryType": "QUERY",
        "attributes": attrs,
    }


def test_pagination_protocol_offset_advance():
    calls = []

    def fetcher(from_date, to_date, pool, offset):
        calls.append((to_date, offset))
        if offset == 0 and to_date == "T1":
            return {"queries": [_doc(i) for i in range(1000)], "warnings": []}
        return {"queries": [_doc(2000)], "warnings": []}  # short, no warning

    pages = list(fetch_pages(fetcher, "T0", "T1"))
    assert [len(p) for p in pages] == [1000, 1]
    assert calls == [("T1", 0), ("T1", 1000)]


def test_pagination_warning_shrinks_window():
    calls = []

    def fetcher(from_date, to_date, pool, offset):
        calls.append((to_date, offset))
        if to_date == "T9":
            # short page + exactly 1 warning → new to_date = last token
            return {
                "queries": [_doc(1)],
                "warnings": ["window truncated, retry before T5"],
            }
        return {"queries": [_doc(2)], "warnings": []}

    pages = list(fetch_pages(fetcher, "T0", "T9"))
    assert [len(p) for p in pages] == [1, 1]
    assert calls == [("T9", 0), ("T5", 0)]  # offset reset + shrunk window


def test_api_load_and_flatten_skip_route(spark):
    def fetcher(from_date, to_date, pool, offset):
        return {
            "queries": [_doc(1), _doc(2, with_mem=False), _doc(3)],
            "warnings": [],
        }

    docs = load_api_queries(spark, fetcher, "T0", "T1")
    flat = flatten_api_docs(docs)
    rows = {r.query_id: r for r in flat.collect()}
    assert len(rows) == 3
    assert rows["api-2"].has_mem_metric is False  # D1 skip route flag
    assert rows["api-1"].reqd_cache_gb == 1.0  # bytes→GB round 2
    assert rows["api-1"].cpu_time_sec == 12.0  # ms→sec
    assert rows["api-1"].num_backends == 4


def test_api_docs_plan_is_not_folded_on_the_driver(spark):
    """``createDataFrame`` over an Arrow table is a ``LocalRelation``,
    and Catalyst folds every projection and filter above one by
    evaluating it on the driver while it optimizes. The docs come back
    as a ``LogicalRDD``, so the flatten, prepare, route filters and
    derive stay in the plan and run on the executors."""
    from impala_base_to_cdw_sizing_spark.operators.derive import derive
    from impala_base_to_cdw_sizing_spark.operators.route import (
        accepted_filter,
        skip_split,
    )
    from impala_base_to_cdw_sizing_spark.plans.pipeline import (
        prepare_query_history,
    )

    def fetcher(from_date, to_date, pool, offset):
        n = 1000 if offset < 2000 else 7  # two full pages, one short
        return {"queries": [_doc(offset + i) for i in range(n)], "warnings": []}

    docs = load_api_queries(spark, fetcher, "T0", "T1")
    qh = prepare_query_history(flatten_api_docs(docs))
    with_metrics, _ = skip_split(accepted_filter(qh, DEFAULT_PARAMS))
    derived = derive(with_metrics, DEFAULT_PARAMS)
    plan = derived._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" not in plan
    assert derived.count() == 2007


def test_sizing_sinks(spark, tmp_path: Path):
    qh = query_history_from_events(spark, SF_SMALL)
    res = run_sizing(qh, DEFAULT_PARAMS)
    from impala_base_to_cdw_sizing_spark.operators.classify import classify

    counts = write_sizing_outputs(
        kept=res.classified_kept,
        pruned=classify(res.routed.pruned),
        skipped=res.routed.skipped,
        output_cols=["query_id", "pool", "min_executor_pod", "recommended_tsize"],
        main_path=str(tmp_path / "main"),
        pruned_path=str(tmp_path / "pruned"),
        skipped_path=str(tmp_path / "skipped"),
    )
    assert counts["kept"] > 0 and counts["skipped"] > 0
    main_files = list((tmp_path / "main").glob("*.csv"))
    assert main_files, "main CSV parts written"
    header = main_files[0].read_text().splitlines()[0]
    assert header == "query_id,pool,min_executor_pod,recommended_tsize"
    skipped_line = (
        list((tmp_path / "skipped").glob("part-*"))[0].read_text().splitlines()[0]
    )
    assert skipped_line.count("|") == 3  # id|duration|start|end
    # lazy prune sink: dir exists iff pruned rows exist
    assert (tmp_path / "pruned").exists() == (counts["pruned"] > 0)


def _csv_rows(out_dir: Path) -> int:
    """Data rows of a Spark CSV directory: each part repeats the header."""
    return sum(
        max(0, len(p.read_text().splitlines()) - 1) for p in out_dir.glob("part-*")
    )


def _text_rows(out_dir: Path) -> int:
    return sum(len(p.read_text().splitlines()) for p in out_dir.glob("part-*"))


def _replay_history(spark, tmp_path: Path):
    """The replay CLI's input shape: no ``has_mem_metric``, so the skip
    route is ``df.limit(0)``."""
    import csv

    from impala_base_to_cdw_sizing_spark.plans.pipeline import prepare_query_history
    from impala_base_to_cdw_sizing_spark.sources.files import read_query_history_csv
    from tests.test_replay_cli import HEADER, ROWS

    path = tmp_path / "history.csv"
    with path.open("w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        w.writerows(ROWS)
    return prepare_query_history(read_query_history_csv(spark, str(path)))


@pytest.mark.parametrize("case", ["sf_small", "replay_no_skip_route", "nothing_pruned"])
def test_sink_counts_equal_rows_written(spark, tmp_path: Path, case):
    """Each returned count, observed on its write, equals the data rows in
    that sink's directory; an empty route returns 0 without blocking."""
    import threading

    from impala_base_to_cdw_sizing_spark.config import SizingParams
    from impala_base_to_cdw_sizing_spark.operators.classify import classify

    if case == "replay_no_skip_route":
        qh, params = _replay_history(spark, tmp_path), DEFAULT_PARAMS
    else:
        qh = query_history_from_events(spark, SF_SMALL)
        # above every query's demand: no pruned row
        params = SizingParams(pod_limit=10**9) if case == "nothing_pruned" else DEFAULT_PARAMS
    res = run_sizing(qh, params)
    dirs = {k: tmp_path / k for k in ("main", "pruned", "skipped")}
    outcome: dict = {}

    def write():
        try:
            outcome["counts"] = write_sizing_outputs(
                kept=res.classified_kept,
                pruned=classify(res.routed.pruned),
                skipped=res.routed.skipped,
                output_cols=["query_id", "pool", "min_executor_pod", "recommended_tsize"],
                main_path=str(dirs["main"]),
                pruned_path=str(dirs["pruned"]),
                skipped_path=str(dirs["skipped"]),
            )
        except Exception as e:  # noqa: BLE001 — re-raised below
            outcome["error"] = e

    writer = threading.Thread(target=write, daemon=True)
    writer.start()
    writer.join(timeout=300)
    assert not writer.is_alive(), "write_sizing_outputs blocked"
    if "error" in outcome:
        raise outcome["error"]
    counts = outcome["counts"]
    assert counts == {
        "kept": _csv_rows(dirs["main"]),
        "pruned": _csv_rows(dirs["pruned"]),
        "skipped": _text_rows(dirs["skipped"]),
    }
    assert counts["kept"] > 0
    if case == "replay_no_skip_route":
        assert counts["skipped"] == 0 and counts["pruned"] == 1
    if case == "nothing_pruned":
        assert counts["pruned"] == 0 and not dirs["pruned"].exists()


def test_report_values_and_render(spark):
    qh = query_history_from_events(spark, SF_SMALL)
    res = run_sizing(qh, DEFAULT_PARAMS)
    values = collect_report_values(res, DEFAULT_PARAMS)
    assert values.individual["total_queries"] > 0
    assert values.cluster_sizing["tsize_workload"] in SIZE_ORDER
    assert set(values.query_counts) == set(SIZE_ORDER)
    text = format_reports(values)
    for section in (
        "Individual Query Analysis",
        "Concurrent Query Analysis",
        "Cluster Sizing",
        "Query Counts",
        "Average Cluster Utilization",
    ):
        assert section in text


def test_ep1_api_mode_end_to_end(spark):
    """EP1: fake CM pages → flatten → full pipeline → report values."""
    def fetcher(from_date, to_date, pool, offset):
        docs = [_doc(i) for i in range(1, 40)]
        docs.append(_doc(99, with_mem=False))  # skip-routed
        return {"queries": docs, "warnings": []}

    from impala_base_to_cdw_sizing_spark.plans.pipeline import (
        prepare_query_history,
    )

    flat = flatten_api_docs(load_api_queries(spark, fetcher, "T0", "T1"))
    qh = prepare_query_history(flat)
    res = run_sizing(qh, DEFAULT_PARAMS)
    values = collect_report_values(res, DEFAULT_PARAMS)
    assert values.individual["total_queries"] == 39  # skip-routed row excluded
    assert res.routed.skipped.count() == 1
    assert values.concurrent["max_concurrent_queries"] >= 1


def test_multimodal_decode_and_frames(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(20)
    decoded = decode_media(with_payload(docs))
    rows = decoded.collect()
    assert len(rows) == 20
    for r in rows:
        assert r.n_pixels == r.width * r.height
        assert 0 <= r.mean_byte <= 255
