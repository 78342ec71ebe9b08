"""Behavioral checks for the sequence operators — oracle parity of the registered ones runs
in tools/compare_oracle.py; here the arithmetic is replicated in pure Python (the
det-composition defense: parity would accept an identically-wrong
formula in both engines) and the structural invariants are asserted."""

from __future__ import annotations

from collections import Counter, defaultdict

from impala_base_to_cdw_sizing_spark.operators import sequences as SQ
from impala_base_to_cdw_sizing_spark.sources.files import load_events
from tests.conftest import SF_SMALL


def test_markov_replicates_in_pure_python(spark):
    ev = (
        load_events(spark, SF_SMALL)
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    seqs = defaultdict(list)
    for r in ev:
        seqs[r.user_id].append((r.ts, r.event_id, r.event_type))
    counts = Counter()
    for s in seqs.values():
        s.sort()
        for (_, _, a), (_, _, b) in zip(s, s[1:]):
            counts[(a, b)] += 1
    totals = Counter()
    for (a, _), n in counts.items():
        totals[a] += n
    rows = SQ.q_markov_transitions(spark, SF_SMALL).collect()
    assert len(rows) == len(counts)
    for r in rows:
        assert r.n_trans == counts[(r.src, r.dst)]
        assert r.n_src_total == totals[r.src]
        assert r.p_trans == counts[(r.src, r.dst)] / totals[r.src]
    # the argmax flag picks exactly one dst per src, the max-count one
    # (dst-asc tiebreak)
    by_src = defaultdict(list)
    for r in rows:
        by_src[r.src].append(r)
    for src, rs in by_src.items():
        tops = [r for r in rs if r.is_top_for_src]
        assert len(tops) == 1
        best = min(rs, key=lambda r: (-r.n_trans, r.dst))
        assert tops[0].dst == best.dst
    # probabilities row-normalize exactly (sum of exact fractions)
    for src, rs in by_src.items():
        assert sum(r.n_trans for r in rs) == rs[0].n_src_total
