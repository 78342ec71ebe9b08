"""Repo-wide physical-plan hygiene, pinned: no declared query may plan a
row-at-a-time Python UDF or a cartesian product, and the flagship
narrow-pipeline plans must stay shuffle-free. Uses tools/plan_audit so
the pins and the audit tool can never drift apart."""

from __future__ import annotations

import pytest

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as ent  # noqa: E402
from tools.plan_audit import audit_plan  # noqa: E402
from tests.conftest import SF_SMALL  # noqa: E402

# iterative queries execute Spark jobs during plan CONSTRUCTION
# (localCheckpoint per round) — audited by their own tests; skipping
# them here keeps this sweep cheap
_ITERATIVE = {"dedup_components", "kmeans_clusters"}


def _audits(spark):
    out = {}
    for name, fn in ent.queries().items():
        if name in _ITERATIVE:
            continue
        plan = fn(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
        out[name] = audit_plan(plan)
        spark.catalog.clearCache()
    return out


@pytest.mark.slow  # re-tiered r15: driver gate = fast tier; this test's coverage stays in the release gate (pytest -m "")
def test_no_row_udfs_or_cartesians_anywhere(spark):
    audits = _audits(spark)
    assert len(audits) >= 45
    offenders = {
        n: a for n, a in audits.items()
        if a["python_eval"] > 0 or a["cartesian"] > 0
    }
    assert not offenders, offenders
    # the sanctioned vectorized path appears only where documented
    arrow_users = {n for n, a in audits.items() if a["arrow_eval"] > 0}
    assert arrow_users <= {"mm_decode_stub"}, arrow_users
    # plan-size blowup pin (r11): an unrolled loop that re-references a
    # growing frame multiplies the plan ~branch^rounds — sim_mmr_rerank
    # shipped at 294 exchanges this way before its per-round checkpoint.
    # The widest legitimate declared plan is dedup_semantic at 40; any
    # plan past 64 exchanges is a lineage bug, not a bigger query.
    bloated = {n: a["exchanges"] for n, a in audits.items() if a["exchanges"] > 64}
    assert not bloated, f"plan blowup (exchanges > 64): {bloated}"


@pytest.mark.slow  # the iterative queries run jobs while they build
def test_iterative_queries_have_no_row_udfs_or_cartesians(spark):
    """The same hygiene bar for the queries :func:`_audits` skips: they
    execute jobs during construction (localCheckpoint rounds) but still
    end in a final plan, audited here like any other."""
    for name in sorted(_ITERATIVE):
        plan = ent.queries()[name](spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
        a = audit_plan(plan)
        assert a["python_eval"] == 0 and a["cartesian"] == 0, (name, a)
        assert a["arrow_eval"] == 0, (name, a)
        spark.catalog.clearCache()


@pytest.mark.slow  # re-tiered r15: driver gate = fast tier; this test's coverage stays in the release gate (pytest -m "")
def test_flagship_narrow_plans_stay_shuffle_free(spark):
    from pyspark.sql import functions as F  # noqa: F401

    audits = _audits(spark)
    # pure-map pipelines: one scan, zero exchanges, zero joins
    for name in ["sizing_derive", "text_profile", "text_pii_scrub", "mm_meta"]:
        a = audits[name]
        assert a["exchanges"] == 0, (name, a)
        assert a["scans"] == 1, (name, a)
    # the pushdown showcase keeps its single partial-agg exchange. At
    # sf0.001 the r15 row-scaled fan-out width leaves the 6 000-row
    # lineitem alone for a light consumer (6 000 rows / 16 Ki rows per
    # task < 2 tasks — sources/files.read_input), so the plan is the
    # single-exchange form; at sf0.1 the same rule fans the 600 000-row
    # scan to the core cap and adds one RoundRobin exchange directly
    # above the scan (pushdown/pruning still reach the scan, so it
    # moves only filtered rows — plans/r15). At real scale the fan-out
    # guard never fires either way.
    assert audits["rel_tpch_q6_pushdown"]["exchanges"] == 1


def test_iterative_per_round_plans_stay_bounded(spark):
    """r11 ADVICE: the 64-exchange pin audits only the FINAL plan, which
    for checkpoint-per-round queries is a ``Scan ExistingRDD`` — 0
    exchanges regardless of what each round planned, so exactly the
    query class that motivated the pin (sim_mmr_rerank's 294-exchange
    unrolled greedy, r10) is invisible to the final-plan audit. Audit
    every frame AT its ``localCheckpoint`` call instead: each per-round
    plan must stay under the same 64-exchange blowup bound."""
    # patch the CONCRETE class: pyspark.sql.DataFrame is the abstract
    # base in PySpark 4 and classic.DataFrame overrides localCheckpoint,
    # so a base-class patch would never fire (hook silently vacuous)
    from pyspark.sql.classic.dataframe import DataFrame

    per_round: dict[str, list[int]] = {}
    current = {"name": "?"}
    orig = DataFrame.localCheckpoint

    def audited(self, eager=True):
        plan = self._jdf.queryExecution().executedPlan().toString()
        per_round.setdefault(current["name"], []).append(
            audit_plan(plan)["exchanges"]
        )
        return orig(self, eager)

    qs = ent.queries()
    DataFrame.localCheckpoint = audited
    try:
        for name in [
            "sim_mmr_rerank",
            "dedup_components",
            "dedup_hybrid",
            "graph_pagerank_conserving",
            "graph_ppr",
        ]:
            current["name"] = name
            qs[name](spark, SF_SMALL)
            spark.catalog.clearCache()
    finally:
        DataFrame.localCheckpoint = orig
    # every audited query must actually checkpoint (the hook saw it) …
    # (kmeans_clusters iterates via collected-centroid broadcast, no
    # per-round frame checkpoint — nothing for this hook to see there)
    assert set(per_round) == {
        "sim_mmr_rerank", "dedup_components", "dedup_hybrid",
        "graph_pagerank_conserving", "graph_ppr",
    }, sorted(per_round)
    # … and every intra-round plan stays bounded. The graph queries
    # checkpoint once at the END of a 3-round linear lineage whose plan
    # STRING re-prints the cached MinHash edge subtree (InMemoryRelation
    # includes its child plan) at every reference — the string count is
    # ~202 while the executed shuffle count is ~15, so they get their own
    # pin (measured 202; a 3^k blowup would be thousands).
    final_ckpt = {"graph_pagerank_conserving", "graph_ppr"}
    offenders = {
        n: rounds for n, rounds in per_round.items()
        if any(r > (256 if n in final_ckpt else 64) for r in rounds)
    }
    assert not offenders, f"per-round plan blowup: {offenders}"


def test_materialized_shared_subplans_serve_from_checkpoint(spark):
    """r5 verdict #2 done-criteria: the executed plans of the queries
    whose shared subplans are eagerly localCheckpoint-ed must actually
    SHOW the materialized scan (``Scan ExistingRDD``) — proving the
    multi-read pipeline is served from the materialization, not
    recomputed per read (the dead-cache failure mode)."""
    qs = ent.queries()
    for name in ["dedup_containment", "dedup_substring", "dedup_substring_spans"]:
        plan = qs[name](spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
        a = audit_plan(plan)
        assert a["rdd_scans"] >= 1, (name, a)
        spark.catalog.clearCache()
