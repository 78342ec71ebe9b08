"""Tests of the benchmark's own pieces: seeded generators, the numpy
oracle against the engine, the status-store counter diff and the
module-state reset.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import numpy as np
import pytest

from perfbench import gen, oracle
from perfbench.state import ModuleState
from perfbench.trace import StatusStore, Tracer

SMALL = 3_000


def _digest(path: Path) -> str:
    files = sorted(p for p in path.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        h.update(f.relative_to(path).as_posix().encode())
        h.update(f.read_bytes())
    return h.hexdigest()


@pytest.mark.parametrize("workload", ["replay_csv", "api_pages"])
def test_generators_are_seeded(tmp_path, workload):
    a = gen.generate(workload, 5, tmp_path / "a")
    b = gen.generate(workload, 5, tmp_path / "b")
    c = gen.generate(workload, 6, tmp_path / "c")
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert a == b and a != c
    # the stated input: every route is exercised
    assert a["expected"]["pruned"] > 0 and a["expected"]["kept"] > 0
    assert (a["skipped_share"] > 0) == (workload == "api_pages")


def test_sweep_event_timestamps_are_distinct():
    h = gen.replay_history(3, n=20_000)
    ts = np.concatenate([h["start_ms"] + h["adm_ms"], h["start_ms"] + h["dur_ms"]])
    assert np.unique(ts).size == ts.size


def test_max_concurrent_counts_only_at_starts():
    # [0, 10) and [5, 20) overlap; [30, 40) is alone; admission delays
    # the first start to 2
    start = np.array([0, 5, 30])
    adm = np.array([2, 0, 0])
    end = np.array([10, 20, 40])
    assert oracle.max_concurrent(start, adm, end) == 2
    assert oracle.max_concurrent(start[2:], adm[2:], end[2:]) == 1


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from impala_base_to_cdw_sizing_spark.session import build_spark

    s = build_spark(
        "perfbench-tests", master="local[2]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


def _engine_counts(result, values) -> dict[str, int]:
    return {
        "total_queries": values.individual["total_queries"],
        "kept": result.routed.kept.count(),
        "pruned": values.individual["prune_count"],
        "skipped": result.routed.skipped.count(),
        "max_concurrent_queries": values.concurrent["max_concurrent_queries"],
    }


def test_oracle_agrees_with_engine_on_replay(spark, tmp_path):
    from impala_base_to_cdw_sizing_spark.config import SizingParams
    from impala_base_to_cdw_sizing_spark.plans.pipeline import (
        prepare_query_history,
        run_sizing,
    )
    from impala_base_to_cdw_sizing_spark.plans.reports import collect_report_values
    from impala_base_to_cdw_sizing_spark.sources.files import read_query_history_csv

    h = gen.replay_history(8, n=SMALL)
    gen.write_replay_csv(h, tmp_path / "qh.csv")
    params = SizingParams(pod_limit=oracle.POD_LIMIT)
    qh = prepare_query_history(read_query_history_csv(spark, str(tmp_path / "qh.csv")))
    result = run_sizing(qh, params)
    got = _engine_counts(result, collect_report_values(result, params))
    spark.catalog.clearCache()
    want = oracle.expected(h, api=False)
    assert want["pruned"] > 0
    assert got == want


def test_oracle_agrees_with_engine_on_api_pages(spark, tmp_path):
    from impala_base_to_cdw_sizing_spark.config import SizingParams
    from impala_base_to_cdw_sizing_spark.plans.pipeline import run_api_sizing
    from impala_base_to_cdw_sizing_spark.plans.reports import collect_report_values

    h = gen.api_history(8, n=SMALL + 250)
    sizes = gen.write_api_pages(h, tmp_path / "pages")
    pages = {
        off: json.loads((tmp_path / "pages" / f"page-{off}.json").read_bytes())
        for off in sizes
    }

    def fetcher(from_date, to_date, pool, offset):
        return pages.get(offset, {"queries": [], "warnings": []})

    params = SizingParams(pod_limit=oracle.POD_LIMIT)
    result = run_api_sizing(spark, params, fetcher=fetcher)
    got = _engine_counts(result, collect_report_values(result, params))
    spark.catalog.clearCache()
    want = oracle.expected(h, api=True)
    assert want["pruned"] > 0 and want["skipped"] > 0
    assert got == want


def test_status_store_diff_repeats_exactly(spark):
    store = StatusStore(spark)
    df = (
        spark.range(0, 200_000, numPartitions=4)
        .selectExpr("id % 97 AS k", "id")
        .groupBy("k")
        .count()
    )

    def diff():
        mark = store.mark()
        df.collect()
        return store.since(mark)

    diff()  # first run compiles; compare two warm calls
    a, b = diff(), diff()
    exact = ("jobs", "stages", "stages_skipped", "tasks", "shuffle_mb")
    assert {k: a[k] for k in exact} == {k: b[k] for k in exact}
    assert a["jobs"] > 0 and a["stages"] > 0 and a["tasks"] > 0
    assert a["task_cpu_s"] > 0 and b["task_cpu_s"] > 0


def test_tracer_spans_nest_and_restore_the_module(spark):
    import types

    mod = types.SimpleNamespace()
    mod.inner = lambda: spark.range(10).count()
    mod.outer = lambda: mod.inner() + 1
    tracer = Tracer(StatusStore(spark))
    original = mod.inner
    with tracer.patched([(mod, "outer", "outer", None), (mod, "inner", "inner", None)]):
        assert mod.outer() == 11
    assert mod.inner is original
    outer, inner = tracer.spans
    assert (outer.name, outer.parent, inner.name, inner.parent) == ("outer", None, "inner", 0)
    assert inner.counters["jobs"] >= 1 and outer.counters["jobs"] >= inner.counters["jobs"]
    assert 0 <= tracer.self_time(0) <= outer.s


def test_benchmark_json_names_what_the_run_prints():
    from perfbench import run

    spec = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


def test_module_state_restores_any_changed_container():
    from impala_base_to_cdw_sizing_spark.sources import files

    state = ModuleState("impala_base_to_cdw_sizing_spark")
    before = dict(files._FANOUT_MEMO)
    files._FANOUT_MEMO[("x", 1, 1)] = 0
    reset = state.restore()
    assert "impala_base_to_cdw_sizing_spark.sources.files._FANOUT_MEMO" in reset
    assert files._FANOUT_MEMO == before
    assert state.restore() == []
