"""Registry-session cache hygiene (r4 verdict #5): a long-lived session
running registered queries must not accumulate storage memory. The
twice-read materializations inside sketch_countmin_topk and mix_sources
are localCheckpoints (GC-scoped), not cache() entries; the plan-keyed caches that remain (the shared MinHash signature
pipeline) must be REUSED across runs, not duplicated."""

from __future__ import annotations

import pytest

import __spark_entry__ as ent
from tests.conftest import SF_SMALL


def _cached_plans(spark) -> int:
    cm = spark._jsparkSession.sharedState().cacheManager()
    if cm.isEmpty():
        return 0
    # CachedData entries, via the IndexedSeq the manager exposes
    return cm.cachedData().size()


def test_converted_queries_leave_no_cache_entries(spark):
    spark.catalog.clearCache()
    qs = ent.queries()
    for name in ["sketch_countmin_topk", "mix_sources"]:
        qs[name](spark, SF_SMALL).collect()
    assert _cached_plans(spark) == 0, (
        "twice-read materializations must be GC-scoped localCheckpoints, "
        "not unreleased cache() entries"
    )


@pytest.mark.slow  # full-registry plan sweep (~2 min alone) — the
# release gate re-runs it; the default tier keeps the per-family and
# declared-tier guards
def test_no_query_unpersists_an_unmaterialized_cache(spark):
    """Registry-wide liveness invariant (r5 verdict #9): a ``cache()``
    that is ``unpersist()``-ed before any action ever ran is DEAD — the
    CacheManager entry is dropped and every read recomputes the
    pipeline, while the code (and its comments) claim otherwise. Two
    such defects shipped in r5 (q_ngram_containment, substring_signals).

    The invariant: at every ``unpersist()`` call issued while a
    registered query builds its plan, the cache entry must already be
    MATERIALIZED (``isCachedColumnBuffersLoaded``) — i.e. the frame
    served at least one action (the graph_rank pattern: cache → eager
    checkpoint consumes it → unpersist). Dead caches trip the assert;
    eager ``localCheckpoint`` materializations never call unpersist at
    all, so they pass vacuously.

    The patch targets the CONCRETE classic.DataFrame (r12): in PySpark 4
    ``pyspark.sql.DataFrame`` is the abstract base and classic overrides
    ``unpersist``, so the original base-class patch never fired — the
    test passed vacuously for every query."""
    from pyspark.sql.classic.dataframe import DataFrame

    cm = spark._jsparkSession.sharedState().cacheManager()
    offenders: list[str] = []
    current = {"name": "?"}
    orig_unpersist = DataFrame.unpersist

    def checked_unpersist(self, blocking=False):
        cd = cm.lookupCachedData(self._jdf)
        if cd.isDefined():
            loaded = (
                cd.get().cachedRepresentation()
                .cacheBuilder().isCachedColumnBuffersLoaded()
            )
            if not loaded:
                offenders.append(current["name"])
        return orig_unpersist(self, blocking)

    spark.catalog.clearCache()
    DataFrame.unpersist = checked_unpersist
    try:
        for name, fn in ent.queries().items():
            current["name"] = name
            fn(spark, SF_SMALL)  # construction only — that is where
            # the r5 dead-cache defects fired their unpersist calls
            spark.catalog.clearCache()
    finally:
        DataFrame.unpersist = orig_unpersist
        spark.catalog.clearCache()
    assert not offenders, (
        f"queries unpersisted a never-materialized cache (dead cache, "
        f"silent recompute): {sorted(set(offenders))}"
    )


def test_r8_segmented_and_prefixfilter_leave_no_cache_entries(spark):
    """r8 ADVICE: the prefix-filter shingle frame and the two segmented
    bounds-lookup frames (equidepth histogram, DSIR importance) used
    ``cache()`` without unpersist — residual CacheManager entries for the
    life of the session. They are now GC-scoped localCheckpoints; running
    each query end-to-end must leave the CacheManager empty."""
    spark.catalog.clearCache()
    qs = ent.queries()
    for name in [
        "dedup_prefixfilter",
        "rel_equidepth_histogram",
        "sample_importance",
    ]:
        qs[name](spark, SF_SMALL).collect()
    assert _cached_plans(spark) == 0, (
        "registered queries must not leave residual cache entries "
        "(use GC-scoped localCheckpoint for bounds-lookup frames)"
    )


@pytest.mark.slow  # re-tiered r15: driver gate = fast tier; this test's coverage stays in the release gate (pytest -m "")
def test_plan_keyed_caches_are_flat_across_repeat_runs(spark):
    """The dedup family's shared MinHash cache is plan-keyed: a second
    run of the same query must hit the same entry, so the cache-entry
    count is identical after run 1 and run 2 — flat, not growing."""
    spark.catalog.clearCache()
    qs = ent.queries()
    qs["graph_pagerank_conserving"](spark, SF_SMALL).collect()
    after_first = _cached_plans(spark)
    qs["graph_pagerank_conserving"](spark, SF_SMALL).collect()
    qs["graph_ppr"](spark, SF_SMALL).collect()
    after_repeat = _cached_plans(spark)
    assert after_repeat == after_first, (
        f"cache entries grew across repeat runs: {after_first} -> {after_repeat}"
    )
    spark.catalog.clearCache()

    # the semantic family's shared _sem_assigned cache (curation.py) is
    # plan-keyed the same way: dedup_semantic and dedup_hybrid build the
    # IDENTICAL train+assign chain, so repeat runs and the sibling query
    # must share ONE entry, not add one per run (r11 ADVICE — a future
    # change that breaks plan canonicalization, e.g. a checkpoint inside
    # trained_centroids, would otherwise grow the CacheManager silently)
    qs["dedup_semantic"](spark, SF_SMALL).collect()
    qs["dedup_hybrid"](spark, SF_SMALL).collect()
    # first pass leaves exactly two entries: the shared _sem_assigned
    # chain (semantic + hybrid hit the SAME one) and hybrid's lexical
    # MinHash sigs frame
    after_sem_first = _cached_plans(spark)
    assert after_sem_first == 2, after_sem_first
    qs["dedup_semantic"](spark, SF_SMALL).collect()
    qs["dedup_hybrid"](spark, SF_SMALL).collect()
    after_sem_repeat = _cached_plans(spark)
    assert after_sem_repeat == after_sem_first, (
        "semantic-dedup plan-keyed cache grew across repeat/sibling runs: "
        f"{after_sem_first} -> {after_sem_repeat}"
    )
    spark.catalog.clearCache()
