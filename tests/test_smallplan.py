"""The fixed-point driver's contracts (``operators.fixpoint.iterate``).

The small-plan gate must (a) engage only below the row threshold, (b)
set AQE off and a row-scaled shuffle width while the rounds plan and
run, and (c) restore BOTH confs on every exit path — a leaked conf
would silently reshape every later query on the shared session. The
loop must take its stop test from the round's own checkpoint job:
no job beyond one per round, a stop at the first converged round, and
a stop at ``max_rounds``. Jobs are counted by job group, as
``tools/job_count_probe.py`` counts them."""

import pytest
from pyspark.sql import functions as F

from impala_base_to_cdw_sizing_spark.operators.fixpoint import (
    _ROWS_PER_CORE,
    iterate,
)


def _confs(spark):
    return (
        spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"),
    )


def _threshold(spark) -> int:
    return _ROWS_PER_CORE * spark.sparkContext.defaultParallelism


def _confs_seen_by_step(spark, rows: int):
    seen_confs = []

    def step(state, seen):
        seen_confs.append(_confs(spark))
        return state

    iterate(spark.range(1), step, max_rounds=1, rows=rows)
    return seen_confs[0]


def test_gate_engages_and_restores_below_threshold(spark):
    before = _confs(spark)
    aqe, width = _confs_seen_by_step(spark, 5_000)
    assert aqe == "false"
    # 5000 rows -> 5000//4096 + 2 = 3 partitions (capped by session width)
    assert int(width) == min(int(before[1]), 3)
    assert int(width) >= 2
    assert _confs(spark) == before


def test_gate_noop_at_scale(spark):
    before = _confs(spark)
    # at the threshold the rounds are NOT small
    assert _confs_seen_by_step(spark, _threshold(spark)) == before
    assert _confs(spark) == before


def test_confs_restored_when_loop_body_raises(spark):
    before = _confs(spark)

    def step(state, seen):
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        iterate(spark.range(1), step, max_rounds=3, rows=100)
    assert _confs(spark) == before


def test_gated_rounds_compute_the_same_frame(spark):
    # the same tiny shuffle-bearing aggregate gated and ungated:
    # identical rows (partitioning must never change results)
    df = spark.range(0, 1000).selectExpr("id % 7 AS k", "id AS v")

    def run(rows: int):
        out, _ = iterate(
            df, lambda s, seen: s.groupBy("k").sum("v"), max_rounds=1, rows=rows
        )
        return sorted(out.collect())

    assert run(1000) == run(_threshold(spark))


def _countdown(spark, *, max_rounds: int, converged):
    """Each round lowers every value by one (floor 0) and observes the
    maximum; the start maximum is 4. Returns (rows, seen, jobs)."""
    sc = spark.sparkContext
    group = f"fixpoint-countdown-{max_rounds}"
    sc.setJobGroup(group, group)
    try:
        out, seen = iterate(
            spark.range(0, 5, numPartitions=2).selectExpr("id AS v"),
            lambda s, seen: s.selectExpr("greatest(v - 1, 0) AS v"),
            max_rounds=max_rounds,
            rows=5,
            observe=(F.max("v").alias("top"),),
            converged=converged,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return sorted(r.v for r in out.collect()), seen, jobs


def test_converging_loop_runs_one_job_per_round_and_stops_at_first_converged(spark):
    rows, seen, jobs = _countdown(
        spark, max_rounds=10, converged=lambda seen: seen[-1]["top"] == 0
    )
    # the stop test is read off each round's checkpoint: round 4 is the
    # first whose maximum is 0, and it is the round reported
    assert [s["top"] for s in seen] == [3, 2, 1, 0]
    assert rows == [0] * 5
    # one checkpoint job per round and nothing else
    assert jobs == len(seen) == 4


def test_loop_stops_at_max_rounds(spark):
    rows, seen, jobs = _countdown(
        spark, max_rounds=2, converged=lambda seen: seen[-1]["top"] == 0
    )
    assert [s["top"] for s in seen] == [3, 2]
    assert rows == [0, 0, 0, 1, 2]
    assert jobs == 2
