"""Behavioral pins for the curation operators (oracle parity runs in
tools/compare_oracle.py): parity alone can't catch a vacuous query, so each
operator must demonstrably DO its job on the fixture."""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest
from impala_base_to_cdw_sizing_spark.operators.curation import (
    _KEEP_FRAC,
    _TARGET_LANG,
    q_dedup_hybrid,
    q_dedup_semantic,
    q_quality_strata_segmented,
    q_sample_importance_segmented,
    q_select_budget_segmented,
)
from tests.conftest import SF_SMALL


def test_semantic_dedup_finds_dups_and_keeps_cluster_minimum(spark):
    rows = q_dedup_semantic(spark, SF_SMALL).collect()
    assert len(rows) == 500
    dups = [r for r in rows if r.is_dup]
    assert dups, "τ must bite on the fixture, else the query is vacuous"
    assert len(dups) < len(rows)
    # the lowest vec_id of every cluster can never be a dup (no lower
    # partner exists) — the keep-lowest rule's invariant
    best = {}
    for r in rows:
        best[r.cluster] = min(best.get(r.cluster, r.vec_id), r.vec_id)
    for r in rows:
        if r.vec_id == best[r.cluster]:
            assert not r.is_dup


@pytest.mark.slow  # re-tiered r15: driver gate = fast tier; this test's coverage stays in the release gate (pytest -m "")
def test_hybrid_clusters_refine_neither_signal(spark):
    """Union-graph components must be coarser-or-equal than each
    single-signal clustering: any two docs the lexical CC puts together
    stay together under hybrid (same for semantic), and the fixture must
    show at least one MERGE only the union produces (else hybrid is a
    vacuous relabeling)."""
    from impala_base_to_cdw_sizing_spark.operators.text import (
        q_dedup_components,
    )

    hybrid = {r.doc_id: r.cluster for r in q_dedup_hybrid(spark, SF_SMALL).collect()}
    lex = {r.doc_id: r.cluster for r in q_dedup_components(spark, SF_SMALL).collect()}
    assert set(hybrid) == set(lex)
    # lexical co-membership survives
    from collections import defaultdict

    def groups(m):
        g = defaultdict(set)
        for k, v in m.items():
            g[v].add(k)
        return list(g.values())

    for grp in groups(lex):
        assert len({hybrid[d] for d in grp}) == 1, grp
    # hybrid must merge something beyond lexical alone (semantic edges
    # exist on this fixture — dedup_semantic finds dups)
    n_lex = len(set(lex.values()))
    n_hybrid = len(set(hybrid.values()))
    assert n_hybrid < n_lex
    # semantic signal really participates: the is_dup relation implies a
    # within-cell edge to a lower id, so every semantic dup shares a
    # hybrid cluster with some lower doc (not necessarily its cell — the
    # cell is the SEARCH scope, not the duplicate group)
    sem_dups = {
        r.vec_id for r in q_dedup_semantic(spark, SF_SMALL).collect() if r.is_dup
    }
    assert sem_dups
    for d in sem_dups:
        # a semantic dup has an edge to a lower id, so its component —
        # labeled by the component MINIMUM — must sit below it
        assert hybrid[d] < d


def test_importance_resampling_prefers_target_language(spark):
    sel = q_sample_importance_segmented(spark, SF_SMALL)
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "lang"
    )
    joined = sel.join(docs, "doc_id").collect()
    n = len(joined)
    chosen = [r for r in joined if r.selected]
    assert len(chosen) == -(-int(_KEEP_FRAC * n) // 1)  # ceil(frac * n)
    frac_en_all = sum(r.lang == _TARGET_LANG for r in joined) / n
    frac_en_sel = sum(r.lang == _TARGET_LANG for r in chosen) / len(chosen)
    # DSIR's whole point: the selected set over-represents the target
    assert frac_en_sel > frac_en_all


def test_budget_selection_respects_budget_and_greedy_order(spark):
    rows = q_select_budget_segmented(spark, SF_SMALL).collect()
    total = sum(r.n_tokens for r in rows)
    budget = total * 0.5
    sel_tokens = sum(r.n_tokens for r in rows if r.selected)
    assert 0 < sel_tokens <= budget
    # greedy: the selected set is a prefix of the quality ordering —
    # every selected doc's quality >= every rejected doc's (up to the
    # doc_id tiebreak at the boundary)
    worst_sel = min(r.quality_score for r in rows if r.selected)
    best_rej = max(r.quality_score for r in rows if not r.selected)
    assert worst_sel >= best_rej or abs(worst_sel - best_rej) < 1e-12


def test_segmented_budget_equals_single_window(spark):
    """The two-phase (bucketed + carry-in) selection must be BIT-equal
    to the single-ordered-window form of the DuckDB oracle — the sweep's
    exactness argument transplanted to curation."""
    from impala_base_to_cdw_sizing_spark.operators.curation import (
        _sql_select_budget,
    )
    from tools.compare_oracle import duck_connection

    a = {
        r[0]: (r[3], r[4])
        for r in duck_connection(SF_SMALL).execute(_sql_select_budget()).fetchall()
    }
    b = {r.doc_id: r for r in q_select_budget_segmented(spark, SF_SMALL).collect()}
    assert set(a) == set(b)
    for d in a:
        assert a[d] == (b[d].cum_tokens, b[d].selected), d
    # and the plan is genuinely parallel: the local window partitions by
    # bucket, no global-ordering window remains on the cumsum path
    plan = (
        q_select_budget_segmented(spark, SF_SMALL)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "bucket" in plan


def test_quality_strata_partition_the_corpus(spark):
    rows = sorted(
        q_quality_strata_segmented(spark, SF_SMALL).collect(),
        key=lambda r: r.stratum,
    )
    assert [r.stratum for r in rows] == list(range(1, 11))
    assert sum(r.n_docs for r in rows) == 500
    # NTILE balance: sizes differ by at most 1
    sizes = [r.n_docs for r in rows]
    assert max(sizes) - min(sizes) <= 1
    # stratum 1 is the best-quality band; bounds must descend
    assert rows[0].q_lo >= rows[-1].q_hi


def test_soft_weights_on_duplicated_corpus(spark, tmp_path):
    """The static corpora carry ZERO exact duplicates, so the dedup
    discount never bites in the registry parity runs — this fixture
    synthesizes a 10-copy flood and (1) runs the FULL oracle comparison
    of ``dedup_soft_weights`` on it (dedup semantics oracle-gated on data
    where they matter), (2) asserts the flood cluster carries one
    document's mass in total, not ten."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import duckdb

    import __spark_entry__ as ent
    from tools.compare_oracle import compare_frames

    def _con(sf_dir):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
        )
        return con

    flood_text = "the fast key order sort table scan merge part window"
    rows = []
    for d in range(60):
        text = flood_text if d < 10 else f"uniq value row data number {d} stream"
        rows.append((d, text, "en", "s0", len(text)))
    p = str(tmp_path / "dupcorpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{p}/documents.parquet")

    out = ent.queries()["dedup_soft_weights"](spark, p)
    issues = compare_frames(
        "dedup_soft_weights",
        out.toPandas(),
        _con(p).execute(ent.oracle_sql()["dedup_soft_weights"]).fetch_df(),
    )
    assert not issues, issues

    got = {r.doc_id: r for r in out.collect()}
    flood = [got[d] for d in range(10)]
    assert all(r.weight_micro == 100_000 for r in flood)
    assert sum(r.weight_micro for r in flood) == 1_000_000  # the cluster counts ONCE
    uniq = [r for d, r in got.items() if d >= 10]
    assert all(r.weight_micro == 1_000_000 for r in uniq)