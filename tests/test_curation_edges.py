"""Curation operators on degenerate corpora: tiny, tied, and
single-doc inputs must keep their documented semantics (the fixtures
never exercise these shapes)."""

from __future__ import annotations

import pytest


@pytest.fixture()
def mini_sf(spark, tmp_path):
    """A minimal sf-dir: 4 docs, two with identical text (exact ties in
    quality), one long, one short."""
    rows = [
        (0, "alpha beta gamma delta", "en", "src0", 22),
        (1, "alpha beta gamma delta", "en", "src0", 22),  # exact tie with 0
        (2, "the and is of to in " * 20, "en", "src1", 120),
        (3, "x", "de", "src1", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_budget_selection_ties_break_on_doc_id(spark, mini_sf):
    from impala_base_to_cdw_sizing_spark.operators.curation import (
        q_select_budget_segmented,
    )

    rows = {r.doc_id: r for r in q_select_budget_segmented(spark, mini_sf).collect()}
    assert len(rows) == 4
    # docs 0 and 1 have identical quality; the ordering must be doc_id
    # ascending, so 0's cumulative count precedes 1's
    assert rows[0].cum_tokens < rows[1].cum_tokens
    total = sum(r.n_tokens for r in rows.values())
    sel = [r for r in rows.values() if r.selected]
    assert sum(r.n_tokens for r in sel) <= total * 0.5
    # greedy prefix: selected set is closed under the ordering
    max_sel_cum = max((r.cum_tokens for r in sel), default=0)
    for r in rows.values():
        if r.cum_tokens < max_sel_cum:
            assert r.selected


def test_single_doc_corpus_selects_nothing_under_half_budget(spark, tmp_path):
    from impala_base_to_cdw_sizing_spark.operators.curation import (
        q_select_budget_segmented,
    )

    df = spark.createDataFrame(
        [(0, "just one document here", "en", "src0", 22)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = q_select_budget_segmented(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    # documented greedy semantics: a half-token budget can never admit a
    # doc bigger than the whole budget — one doc, nothing selected
    assert not rows[0].selected


def test_strata_with_fewer_docs_than_strata(spark, mini_sf):
    from impala_base_to_cdw_sizing_spark.operators.curation import (
        q_quality_strata_segmented,
    )

    rows = q_quality_strata_segmented(spark, mini_sf).collect()
    # NTILE(10) over 4 rows: 4 singleton strata, ids 1..4
    assert sorted(r.stratum for r in rows) == [1, 2, 3, 4]
    assert all(r.n_docs == 1 for r in rows)


def test_importance_scores_follow_target_on_mini_corpus(spark, mini_sf):
    from impala_base_to_cdw_sizing_spark.operators.curation import (
        q_sample_importance_segmented,
    )

    rows = {r.doc_id: r for r in q_sample_importance_segmented(spark, mini_sf).collect()}
    assert len(rows) == 4
    # ceil(0.25 * 4) = 1 selected, deterministically the top scorer
    assert sum(r.selected for r in rows.values()) == 1
