"""Adversarial self-checks for the r8 retrieval operators — pure-Python
replications (the defense that caught the r7 identifier collision:
parity alone cannot see identical-wrong answers).
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from impala_base_to_cdw_sizing_spark.operators import retrieval
from impala_base_to_cdw_sizing_spark.operators.retrieval import (
    _BM25_B,
    _BM25_K1,
    _BM25_QUERIES,
    _PMI_MIN_COUNT,
)
from tests.conftest import SF_SMALL


def _det_ln(ratio: float) -> int:
    y = ratio
    for _ in range(16):
        y = math.sqrt(y)
    z = (y - 1.0) / (y + 1.0)
    z2 = z * z
    series = 2.0 * z * (
        1.0 + z2 * (1.0 / 3.0 + z2 * (1.0 / 5.0 + z2 * (1.0 / 7.0)))
    )
    return int(math.floor(65536.0 * series * 1000000.0 + 0.5))


def _tokens(spark):
    """Tokenize exactly as the engine does (SPARK_TOKENS is an engine
    expression; evaluating it once here keeps the replication about the
    SCORING arithmetic, not a reimplementation of the tokenizer)."""
    from impala_base_to_cdw_sizing_spark.operators.text import SPARK_TOKENS

    rows = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .selectExpr("doc_id", f"{SPARK_TOKENS} AS tokens")
        .collect()
    )
    return {r.doc_id: list(r.tokens) for r in rows}


def test_bm25_replicates_in_pure_python(spark):
    toks = _tokens(spark)
    n_docs = len(toks)
    avg_len = float(sum(len(t) for t in toks.values())) / float(n_docs)
    terms = {t for _, t in _BM25_QUERIES}
    df = {t: sum(1 for tt in toks.values() if t in tt) for t in terms}
    idf_micro = {
        t: _det_ln(float(2 * (n_docs - df[t]) + 1) / float(2 * df[t] + 1))
        for t in terms
    }
    queries = defaultdict(list)
    for qid, t in _BM25_QUERIES:
        queries[qid].append(t)
    expected = {}
    for qid, qterms in queries.items():
        for doc_id, tt in toks.items():
            c = Counter(tt)
            score = 0
            for t in qterms:
                tf = c.get(t, 0)
                if tf == 0:
                    continue
                sat = (float(tf) * (_BM25_K1 + 1.0)) / (
                    float(tf)
                    + _BM25_K1
                    * ((1.0 - _BM25_B) + (_BM25_B * float(len(tt))) / avg_len)
                )
                score += int(math.floor(float(idf_micro[t]) * sat + 0.5))
            if score != 0 or any(t in c for t in qterms):
                expected[(qid, doc_id)] = score

    got = retrieval.q_bm25_topk(spark, SF_SMALL).collect()
    assert len(got) > 0
    for r in got:
        assert expected[(r.query_id, r.doc_id)] == r.score_micro, r
    # rank order is genuinely the python-side order (top-k agreement)
    for qid in queries:
        ranked = sorted(
            ((s, d) for (q, d), s in expected.items() if q == qid),
            key=lambda x: (-x[0], x[1]),
        )[: retrieval._BM25_TOPK]
        got_q = sorted(
            [r for r in got if r.query_id == qid], key=lambda r: r.rank
        )
        assert [(r.score_micro, r.doc_id) for r in got_q] == ranked


def test_pmi_replicates_in_pure_python(spark):
    toks = _tokens(spark)
    c12 = Counter()
    for tt in toks.values():
        for a, b in zip(tt, tt[1:]):
            c12[(a, b)] += 1
    c1, c2 = Counter(), Counter()
    for (a, b), n in c12.items():
        c1[a] += n
        c2[b] += n
    n_bg = sum(c12.values())
    expected = {
        (a, b): _det_ln(float(n * n_bg) / float(c1[a] * c2[b]))
        for (a, b), n in c12.items()
        if n >= _PMI_MIN_COUNT
    }
    got = retrieval.q_pmi_collocations(spark, SF_SMALL).collect()
    assert {(r.prev, r.cur): r.pmi_micro for r in got} == expected
    assert len(got) > 0


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]
