"""Semantics of the cross-document substring dedup (ExactSubstr class,
arXiv:2107.06499): the span-union accounting and the cross-doc-only rule
are pinned on a synthesized corpus where the right answers are computable
by hand — the corpus-level oracle parity lives in tools/compare_oracle.py."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from impala_base_to_cdw_sizing_spark.operators.text import (  # noqa: E402
    _SUBSTR_W,
    substring_signals,
)


def _run(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = substring_signals(df).toPandas().set_index("doc_id")
    return out


def test_span_union_not_window_sum(spark):
    # docs 0 and 1 share one verbatim 10-token run (W=8 → 3 shared
    # window positions per doc); the union of the covered positions is
    # the 10-token span, NOT 3*W=24 tokens
    assert _SUBSTR_W == 8
    shared = "s0 s1 s2 s3 s4 s5 s6 s7 s8 s9"
    rows = [
        (0, f"a0 a1 a2 {shared} a3 a4"),
        (1, f"b0 b1 {shared} b2 b3 b4 b5"),
        (2, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
    ]
    out = _run(spark, rows)
    for d in (0, 1):
        assert out.loc[d, "shared_windows"] == 3
        assert out.loc[d, "dup_tokens"] == 10
    assert out.loc[2, "shared_windows"] == 0
    assert out.loc[2, "dup_tokens"] == 0
    assert out.loc[2, "dup_token_frac"] == 0.0


def test_within_doc_repetition_is_not_cross_doc(spark):
    # a doc repeating ITS OWN 8-gram twice shares nothing across docs →
    # zero (self-repetition is the Gopher filters' jurisdiction)
    run = "r0 r1 r2 r3 r4 r5 r6 r7"
    rows = [
        (0, f"{run} mid1 mid2 {run}"),
        (1, "z0 z1 z2 z3 z4 z5 z6 z7 z8 z9"),
    ]
    out = _run(spark, rows)
    assert out.loc[0, "shared_windows"] == 0
    assert out.loc[0, "dup_tokens"] == 0


def test_spans_tile_the_dup_token_totals(spark):
    # the span list is the same information as the per-doc totals:
    # per-doc sum of span lengths == dup_tokens, every maximal span is
    # at least one window wide, and spans never overlap (maximality)
    from tests.conftest import SF_ORACLE

    from impala_base_to_cdw_sizing_spark.operators.text import (
        q_dedup_substring,
        q_dedup_substring_spans,
    )

    spans = q_dedup_substring_spans(spark, SF_ORACLE).toPandas()
    totals = q_dedup_substring(spark, SF_ORACLE).toPandas().set_index("doc_id")
    assert len(spans) > 0  # non-vacuous at sf0.01 (47 docs share 8-grams)
    assert (spans.span_len >= _SUBSTR_W).all()
    assert (spans.span_end - spans.span_start + 1 == spans.span_len).all()
    by_doc = spans.groupby("doc_id").span_len.sum()
    for doc_id, s in by_doc.items():
        assert s == totals.loc[doc_id, "dup_tokens"]
    for doc_id, grp in spans.sort_values("span_start").groupby("doc_id"):
        ends = grp.span_end.values
        starts = grp.span_start.values
        assert all(starts[i + 1] > ends[i] + 1 for i in range(len(grp) - 1))


def test_short_docs_drop_and_frac_bounded(spark):
    rows = [
        (0, "only three tokens"),  # < W → no row
        (1, "x0 x1 x2 x3 x4 x5 x6 x7"),  # exactly W → 1 window
        (2, "x0 x1 x2 x3 x4 x5 x6 x7"),  # identical → fully duplicated
    ]
    out = _run(spark, rows)
    assert 0 not in out.index
    for d in (1, 2):
        assert out.loc[d, "n_windows"] == 1
        assert out.loc[d, "shared_windows"] == 1
        assert out.loc[d, "dup_tokens"] == 8
        assert out.loc[d, "dup_token_frac"] == 1.0
