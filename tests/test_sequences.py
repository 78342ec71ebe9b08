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


def test_ewma_replicates_in_pure_python(spark):
    ev = (
        load_events(spark, SF_SMALL)
        .selectExpr("event_type", "CAST(ts DIV 3600000000000 AS BIGINT) AS hr")
        .collect()
    )
    hourly = Counter((r.event_type, r.hr) for r in ev)
    L = SQ._EWMA_LAGS
    rows = SQ.q_ewma_hourly(spark, SF_SMALL).collect()
    assert len(rows) == len(hourly)
    for r in rows:
        num = den = 0
        for lag in range(L):
            c = hourly.get((r.event_type, r.hr - lag))
            if c is not None:
                w = 1 << (L - 1 - lag)
                num += c * w
                den += w
        assert (r.num, r.den, r.n_events) == (
            num,
            den,
            hourly[(r.event_type, r.hr)],
        )
        assert r.ewma == num / den
    # smoothing is real: the EWMA differs from the raw count somewhere,
    # and a full-history hour weights the current count at 2^15/(2^16-1)
    assert any(r.ewma != float(r.n_events) for r in rows)
    # history length varies (gaps renormalize the divisor, not decay it)
    assert len({r.den for r in rows}) > 1


def test_ewma_full_history_hours_exist_at_sf001(spark):
    # sf0.001 is too sparse for a 16-hour unbroken run per type; at
    # sf0.01 the hour grid is dense, so complete-history rows (den =
    # 2^16 − 1) must exist — the truncated-EWMA steady state.
    from tests.conftest import SF_ORACLE

    L = SQ._EWMA_LAGS
    rows = SQ.q_ewma_hourly(spark, SF_ORACLE).collect()
    full = [r for r in rows if r.den == (1 << L) - 1]
    assert len(full) > len(rows) // 4


def test_cumulative_distinct_replicates_and_monotone(spark):
    """First-touch identity vs a brute-force running union, plus the
    structural invariants: cum is nondecreasing per type, day-1 cum =
    day-1 active = day-1 new, final cum = total distinct per type."""
    ev = load_events(spark, SF_SMALL).selectExpr(
        "event_type", "user_id", "CAST(ts DIV 86400000000000 AS BIGINT) AS day"
    ).collect()
    by_type = defaultdict(lambda: defaultdict(set))
    for r in ev:
        by_type[r.event_type][r.day].add(r.user_id)
    expect = {}
    for t, days in by_type.items():
        seen = set()
        for d in sorted(days):
            new = days[d] - seen
            seen |= days[d]
            expect[(t, d)] = (len(days[d]), len(new), len(seen))
    rows = SQ.q_cumulative_distinct(spark, SF_SMALL).collect()
    assert len(rows) == len(expect)
    for r in rows:
        assert (r.n_active, r.n_new, r.cum_distinct) == expect[(r.event_type, r.day)]
    for t, days in by_type.items():
        trows = sorted((r for r in rows if r.event_type == t), key=lambda r: r.day)
        assert all(
            a.cum_distinct <= b.cum_distinct for a, b in zip(trows, trows[1:])
        )
        assert trows[0].cum_distinct == trows[0].n_active == trows[0].n_new
        assert trows[-1].cum_distinct == len(set().union(*days.values()))


def test_session_stats_replicates_and_ties_to_sessionize(spark):
    from impala_base_to_cdw_sizing_spark.operators.relational import (
        _GAP_NS,
        q_sessionize_segmented,
    )

    ev = load_events(spark, SF_SMALL).select(
        "user_id", "ts", "event_id"
    ).collect()
    seqs = defaultdict(list)
    for r in ev:
        seqs[r.user_id].append((r.ts, r.event_id))
    sessions = []
    for rs in seqs.values():
        rs.sort()
        cur = []
        for ts, eid in rs:
            if cur and ts - cur[-1] > _GAP_NS:
                sessions.append(cur)
                cur = []
            cur.append(ts)
        sessions.append(cur)
    expect = defaultdict(lambda: [0, None, None, 0])
    for s in sessions:
        dur = s[-1] - s[0]
        e = expect[len(s)]
        e[0] += 1
        e[1] = dur if e[1] is None else min(e[1], dur)
        e[2] = dur if e[2] is None else max(e[2], dur)
        e[3] += dur
    rows = SQ.q_session_stats_segmented(spark, SF_SMALL).collect()
    assert len(rows) == len(expect)
    for r in rows:
        n, lo, hi, tot = expect[r.n_events]
        assert (r.n_sessions, r.min_dur_ns, r.max_dur_ns, r.sum_dur_ns) == (
            n, lo, hi, tot,
        )
        assert r.avg_dur_ns == tot / n
    # ties out to the per-user sessionize counts exactly
    total_sessions = sum(r.n_sessions for r in rows)
    assert total_sessions == sum(
        r.n_sessions for r in q_sessionize_segmented(spark, SF_SMALL).collect()
    )
    total_events = sum(r.n_events * r.n_sessions for r in rows)
    assert total_events == len(ev)
    # single-event sessions have zero duration by construction
    ones = [r for r in rows if r.n_events == 1]
    assert all(r.max_dur_ns == 0 for r in ones)
