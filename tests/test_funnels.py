"""Behavioral pins for funnel/retention (oracle parity of the
registered rows in tools/compare_oracle.py): the funnel's deadline must
actually bind, SCD2 intervals must tile, and the retention triangle must
be self-consistent."""

from __future__ import annotations

from impala_base_to_cdw_sizing_spark.operators.funnels import q_retention_cohorts
from impala_base_to_cdw_sizing_spark.sources.files import load_events
from tests.conftest import SF_ORACLE


def test_scd2_intervals_tile_each_user_history(spark):
    """Intervals must tile: per user, run_ids are 1..N, exactly one open
    interval (the last), each interval's valid_to equals the next's
    valid_from, attrs of adjacent runs differ (change-compressed), and
    n_events sums back to the user's event count."""
    from impala_base_to_cdw_sizing_spark.operators.funnels import (
        q_scd2_intervals,
    )

    rows = q_scd2_intervals(spark, SF_ORACLE).collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r)
    ev_counts = {
        r.user_id: r.n
        for r in load_events(spark, SF_ORACLE)
        .groupBy("user_id").count().withColumnRenamed("count", "n").collect()
    }
    assert set(per_user) == set(ev_counts)
    for u, ivs in per_user.items():
        ivs.sort(key=lambda r: r.run_id)
        assert [r.run_id for r in ivs] == list(range(1, len(ivs) + 1))
        assert sum(r.n_events for r in ivs) == ev_counts[u]
        opens = [r for r in ivs if r.valid_to_ns is None]
        assert opens == [ivs[-1]]
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to_ns == b.valid_from_ns
            assert a.attr != b.attr  # runs are maximal


def test_retention_triangle_consistency(spark):
    rows = q_retention_cohorts(spark, SF_ORACLE).collect()
    assert rows
    by_cohort = {}
    for r in rows:
        assert r.week_offset >= 0
        by_cohort.setdefault(r.cohort_week, {})[r.week_offset] = r.n_users
    n_users_total = (
        load_events(spark, SF_ORACLE).select("user_id").distinct().count()
    )
    # offset 0 exists for every cohort and the cohort sizes sum to the
    # user population (every user is in exactly one cohort)
    assert all(0 in offs for offs in by_cohort.values())
    assert sum(offs[0] for offs in by_cohort.values()) == n_users_total
    # retention can never exceed the cohort's size
    for offs in by_cohort.values():
        assert all(n <= offs[0] for n in offs.values())


def test_funnel_window_replicates_and_differs_from_unbounded(spark):
    """Pure-Python windowFunnel replication (any-start, earliest-next
    greedy) and the semantic claim: the 24h deadline must genuinely
    disagree with the unbounded earliest chain (earliest view, then the
    earliest later click, then any later purchase) on this corpus — otherwise the operator adds nothing."""
    from collections import Counter, defaultdict

    from impala_base_to_cdw_sizing_spark.operators.funnels import (
        _WF_NS,
        q_funnel_window,
    )
    from impala_base_to_cdw_sizing_spark.sources.files import load_events
    from tests.conftest import SF_ORACLE

    ev = load_events(spark, SF_ORACLE).select(
        "user_id", "event_type", "ts"
    ).collect()
    by_user = defaultdict(lambda: defaultdict(list))
    for r in ev:
        by_user[r.user_id][r.event_type].append(r.ts)
    hist = Counter()
    for u, evs in by_user.items():
        views = sorted(evs.get("view", []))
        clicks = sorted(evs.get("click", []))
        purchases = sorted(evs.get("purchase", []))
        depth = 0
        for t1 in views:
            d = 1
            t2 = next(
                (t for t in clicks if t > t1 and t <= t1 + _WF_NS), None
            )
            if t2 is not None:
                d = 2
                t3 = next(
                    (t for t in purchases if t > t2 and t <= t1 + _WF_NS),
                    None,
                )
                if t3 is not None:
                    d = 3
            depth = max(depth, d)
        hist[depth] += 1
    rows = q_funnel_window(spark, SF_ORACLE).collect()
    got = {r.depth: r.n_users for r in rows}
    assert got == {d: n for d, n in hist.items()}
    n_total = sum(hist.values())
    for r in rows:
        assert r.n_total == n_total and r.share == r.n_users / n_total
    # the deadline bites: bounded depth-3 count < unbounded stage-3 count
    def converts_unbounded(evs):
        if not evs.get("view"):
            return False
        t1 = min(evs["view"])
        t2 = min((t for t in evs.get("click", []) if t > t1), default=None)
        return t2 is not None and any(t > t2 for t in evs.get("purchase", []))

    unbounded3 = sum(converts_unbounded(evs) for evs in by_user.values())
    assert got.get(3, 0) < unbounded3
