"""Query registry: generic OLAP coverage (joins, top-k, set ops,
grouping) and the training-data-pipeline operators (dedup, similarity,
text analysis, multimodal). Each provider module calls :func:`register`
at load; kept separate so ``__spark_entry__`` stays a thin contract file.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}

# Flagships that lead the registry: queries()/oracle_sql() list these
# names first, in this order, then every other registered name in
# registration order. __spark_entry__ builds its canonical and rotated
# orders from that list.
PROMOTED: tuple[str, ...] = (
    # r13 (r12 verdict task 3): the declared tier adopts a THREE-round
    # rotation contract (114 rotating names = 3 windows of 38, zero
    # slack) and these 38 distinct operator families move under the
    # driver gate. They lead PROMOTED so the r13/r14 windows cover all
    # of them first (head16 + first 22 in r13, next 16 + old flagships
    # in r14). Each was oracle-verified at sf0.01 (driver scale, not
    # just the pytest tier's sf0.001) before promotion — ALL GREEN,
    # tools/compare_oracle.py r13.
    "sample_importance",
    "corpus_quality_strata",
    "rel_equidepth_histogram",
    "text_bpe_merges_converged",
    "text_bpe_encode_converged",
    "sim_sq8_ann",
    "sketch_bitmap_rollup",
    "asof_view_after_purchase",
    "rel_interval_join_banded",
    "mm_resize",
    "emb_pca_power",
    "emb_whitening",
    "emb_random_projection",
    "emb_outliers",
    "emb_hard_negatives",
    "sample_split",
    "dedup_incremental",
    "dedup_chunks",
    "dedup_soft_weights",
    "text_stats",
    "text_unigram_surprisal",
    "text_bigram_perplexity",
    "text_rake_keywords",
    "text_zipf_fit",
    "sketch_heavyhitters_global",
    "sketch_kmv_jaccard",
    "skew_join_hot",
    "graph_triangles",
    "rel_rollup",
    "rel_cube",
    "rel_pivot",
    "rel_unpivot",
    "rel_json_props",
    "rel_gapfill_hourly",
    "rel_skyline",
    "rel_drift_psi",
    "rel_markov_transitions",
    "rel_golden_record",
    # pre-r13 flagships (r8/r10/r11 promotions), unchanged below.
    "dedup_prefixfilter",
    "dedup_substring",
    "dedup_substring_spans",
    "dedup_semantic",
    "sim_pq_refine",
    "sim_binary_hamming",
    "sim_mmr_rerank",
    "text_bm25_topk",
    "text_pmi_collocations",
    "sketch_kmv_distinct",
    "rel_gini",
    "rel_incremental_join_view",
    "mm_phash_neardup",
    "graph_ppr",
    "rel_funnel_window",
    "sample_reservoir_merged",
    # r10 verdict task #1: the next ten flagships under the driver gate.
    "dedup_containment",
    "dedup_hybrid",
    "corpus_select_budget",
    "text_quality_gopher",
    "sim_lsh_ann_multiprobe",
    "graph_pagerank_conserving",
    "rel_median_twopass",
    "rel_entropy_jsd",
    "mix_sources_temperature",
    "rel_scd2_intervals",
    # r11: ten more flagships under the driver gate. text_langid /
    # text_token_count / text_fingerprint close the task-spec text-analysis
    # list (language-ID, token counting, document fingerprinting) at the
    # declared tier alongside the already-promoted text_quality_gopher.
    "text_langid",
    "text_token_count",
    "text_fingerprint",
    "rel_retention_cohorts",
    "rel_tpch_q9_profit",
    "rel_tpch_q18_having",
    "sketch_countmin_topk",
    "rel_hll_rollup",
    "sim_ivf_trained",
    "mix_sources",
)


def register(name: str, fn: Callable[[SparkSession, str], DataFrame], sql: str | None) -> None:
    _QUERIES[name] = fn
    if sql is not None:
        _ORACLES[name] = sql


_LOADED = False


def _load_providers() -> None:
    """Import provider modules (they call :func:`register` at import)."""
    global _LOADED
    if _LOADED:
        return
    _LOADED = True
    from . import (
        api_flatten,
        asof,
        kmeans,
        multimodal,
        olap_extra,
        relational,
        sampling,
        similarity,
        text,
    )

    api_flatten.register_all()

    from . import rollup_cascade

    # Registration order IS driver-report order (the report caps at 50
    # rows): the LLM-pipeline families that fell past the cap in round 1
    # (similarity, kmeans, multimodal, sampling) register first, the
    # twice-verified relational/OLAP gap-coverage extras last.
    similarity.register_all()
    kmeans.register_all()
    multimodal.register_all()
    sampling.register_all()
    text.register_all()
    rollup_cascade.register_all()
    asof.register_all()
    relational.register_all()
    olap_extra.register_all()

    from . import countmin, mixture, profiling, surprisal

    mixture.register_all()
    surprisal.register_all()
    countmin.register_all()
    profiling.register_all()

    from . import (
        curation,
        funnels,
        graph_rank,
        lm_quality,
        pca,
        pq,
        skew,
        sq,
    )

    skew.register_all()
    pq.register_all()
    pca.register_all()
    curation.register_all()
    graph_rank.register_all()
    funnels.register_all()
    sq.register_all()
    lm_quality.register_all()

    from . import binary_ann, infotheory, selection, mdm, mmr, ppjoin, rake, retrieval, sequences, sketch_sets, zipf

    retrieval.register_all()
    sketch_sets.register_all()
    sequences.register_all()
    mdm.register_all()
    binary_ann.register_all()
    ppjoin.register_all()
    rake.register_all()
    zipf.register_all()
    mmr.register_all()
    selection.register_all()
    infotheory.register_all()


def _check_promoted(registry: dict, kind: str) -> None:
    """A promoted name that its home module renamed or dropped must fail
    loudly at registry load with the contract error, not a bare KeyError
    deep inside a dict comprehension (r9 ADVICE)."""
    missing = [n for n in PROMOTED if n not in registry]
    if missing:
        raise RuntimeError(
            f"promoted names not registered as {kind}: {missing} — "
            "every name in queries_ext.PROMOTED must stay registered via "
            "register() in its home module"
        )


def _promoted_first(registry: dict, kind: str) -> dict:
    _load_providers()
    _check_promoted(registry, kind)
    out = {name: registry[name] for name in PROMOTED}
    out.update(registry)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _promoted_first(_QUERIES, "queries")


def oracle_sql() -> dict[str, str]:
    return _promoted_first(_ORACLES, "oracles")
