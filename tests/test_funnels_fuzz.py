"""Differential fuzz for the event-sequence operators: random little
event logs, Spark result vs an independent pure-Python reference —
the same independent-truth pattern that caught the lexicographic
min/max stats bug in r3 (a mirrored oracle can agree with a shared
mistake; a reference written from the SEMANTICS cannot)."""

from __future__ import annotations

import random

import pytest
from impala_base_to_cdw_sizing_spark.operators.funnels import (
    _WEEK_NS,
    q_retention_cohorts,
    q_scd2_intervals,
)

TYPES = ["view", "click", "purchase", "signup", "error"]


def _write_log(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts_ms long, user_id long, event_type string"
    ).selectExpr(
        "event_id", "timestamp_millis(ts_ms) AS ts", "user_id", "event_type",
        "CAST(1.0 AS DOUBLE) AS value", "'{}' AS props",
    )
    path = tmp_path / "events.parquet"
    df.coalesce(1).write.mode("overwrite").parquet(str(path))
    return str(tmp_path)


def _ref_scd2(rows):
    """Pure-Python run-length compression of event_type per user."""
    by_user = {}
    for eid, ts, uid, et in rows:
        by_user.setdefault(uid, []).append((ts, eid, et))
    out = {}
    for uid, evs in by_user.items():
        evs.sort()
        runs = []
        for ts, _, et in evs:
            if not runs or runs[-1][0] != et:
                runs.append([et, ts, 1])
            else:
                runs[-1][2] += 1
        out[uid] = runs  # [attr, first_ts, n_events] per run
    return out


@pytest.mark.slow  # re-tiered r15: driver gate = fast tier; this test's coverage stays in the release gate (pytest -m "")
def test_retention_and_scd2_match_python_reference_on_random_logs(spark, tmp_path):
    rng = random.Random(20260814)
    for trial in range(4):
        n_users, n_events = rng.randint(2, 5), rng.randint(10, 60)
        rows = []
        for i in range(n_events):
            rows.append(
                (
                    i,
                    1_700_000_000_000 + rng.randint(0, 10_000) * 1000,
                    rng.randint(1, n_users),
                    rng.choice(TYPES),
                )
            )
        # unique timestamps per user keep the reference's ordering total
        # (Spark tie-breaks on event_id; dedupe ts to avoid modeling it)
        seen = set()
        rows = [
            r for r in rows
            if (r[2], r[1]) not in seen and not seen.add((r[2], r[1]))
        ]
        sf = _write_log(spark, tmp_path / f"t{trial}", rows)

        got_r = {
            (r.cohort_week, r.week_offset): r.n_users
            for r in q_retention_cohorts(spark, sf).collect()
        }
        weeks = {}
        for _, ts, uid, _et in rows:
            weeks.setdefault(uid, set()).add(ts * 1_000_000 // _WEEK_NS)
        want_r = {}
        for uid, ws in weeks.items():
            cohort = min(ws)
            for w in ws:
                key = (cohort, w - cohort)
                want_r[key] = want_r.get(key, 0) + 1
        assert got_r == want_r, f"retention trial {trial}"

        got_s = {}
        for r in q_scd2_intervals(spark, sf).collect():
            got_s.setdefault(r.user_id, []).append(
                (r.run_id, r.attr, r.valid_from_ns, r.n_events)
            )
        for u in got_s:
            got_s[u].sort()
        want_s = {
            u: [
                (i + 1, attr, ts * 1_000_000, n)
                for i, (attr, ts, n) in enumerate(runs)
            ]
            for u, runs in _ref_scd2(rows).items()
        }
        assert got_s == want_s, f"scd2 trial {trial}"
