"""Pure-Python replication tests for exact rolling median and lag-k
autocorrelation (late r9), and the two-pass medians.

Each test recomputes the operator from the raw parquet with Python
integers (exact, order-free) and demands BIT-EQUAL doubles from the
Spark plan — the same replication standard the det-ln/zipf/chi² tests
set. The rolling-median gap fixture additionally pins the RANGE-frame
semantics (calendar gaps shrink the window; ROWS framing would
silently reach further back in time).
"""

from __future__ import annotations

from collections import defaultdict

import duckdb
import pytest

from impala_base_to_cdw_sizing_spark.operators.sequences import (
    _ACF_MAX_LAG,
    _MEDIAN_WINDOW_DAYS,
    q_acf_hourly,
    q_rolling_median,
)

SF_DIR = "/root/testdata/sf0.001"
_DAY_NS = 86_400_000_000_000
_HR_NS = 3_600_000_000_000


def _events():
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT user_id, epoch_ns(ts), event_type FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    con.close()
    return rows


def _py_rolling_median(daily: dict) -> dict:
    out = {}
    by_type = defaultdict(dict)
    for (etype, day), n in daily.items():
        by_type[etype][day] = n
    for etype, days in by_type.items():
        for day in days:
            win = sorted(
                n
                for d, n in days.items()
                if day - (_MEDIAN_WINDOW_DAYS - 1) <= d <= day
            )
            m = len(win)
            med = (
                float(win[(m - 1) // 2])
                if m % 2 == 1
                else (float(win[m // 2 - 1]) + float(win[m // 2])) / 2.0
            )
            out[(etype, day)] = (m, med)
    return out


def test_rolling_median_replicates(spark):
    daily = defaultdict(int)
    for user_id, ts_ns, etype in _events():
        daily[(etype, ts_ns // _DAY_NS)] += 1
    expect = _py_rolling_median(daily)
    got = q_rolling_median(spark, SF_DIR).collect()
    assert len(got) == len(expect)
    for r in got:
        m, med = expect[(r["event_type"], r["day"])]
        assert r["n_events"] == daily[(r["event_type"], r["day"])]
        assert (r["n_in_window"], r["rolling_median"]) == (m, med)


def test_rolling_median_range_frame_shrinks_over_gaps(spark, tmp_path):
    """Days 0,1,2 then a gap to day 20: the day-20 window must contain
    ONLY day 20 (RANGE semantics), not the last 7 observed rows."""
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT * FROM (VALUES
            (1, TIMESTAMP '2024-01-01 00:00:00', 10, 'click', 1.0, ''),
            (2, TIMESTAMP '2024-01-01 01:00:00', 10, 'click', 1.0, ''),
            (3, TIMESTAMP '2024-01-02 00:00:00', 10, 'click', 1.0, ''),
            (4, TIMESTAMP '2024-01-03 00:00:00', 10, 'click', 1.0, ''),
            (5, TIMESTAMP '2024-01-21 00:00:00', 10, 'click', 1.0, '')
          ) AS t(event_id, ts, user_id, event_type, value, props)
        ) TO '{tmp_path}/events.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    rows = {
        r["day"]: r for r in q_rolling_median(spark, str(tmp_path)).collect()
    }
    days = sorted(rows)
    assert [rows[d]["n_in_window"] for d in days] == [1, 2, 3, 1]
    # day 1 window = [2]; day 2 = [1,2] -> 1.5; day 3 = [1,1,2] -> 1;
    # day 21 (post-gap) = [1] alone
    assert [rows[d]["rolling_median"] for d in days] == [2.0, 1.5, 1.0, 1.0]


def test_acf_hourly_replicates(spark):
    hourly = defaultdict(int)
    for user_id, ts_ns, etype in _events():
        hourly[ts_ns // _HR_NS] += 1
    lo, hi = min(hourly), max(hourly)
    c = [hourly.get(h, 0) for h in range(lo, hi + 1)]
    n, s = len(c), sum(c)
    d = [n * x - s for x in c]
    den = sum(x * x for x in d)
    got = {r["lag"]: r for r in q_acf_hourly(spark, SF_DIR).collect()}
    assert set(got) == set(range(1, _ACF_MAX_LAG + 1))
    for k in range(1, _ACF_MAX_LAG + 1):
        num = sum(d[t] * d[t + k] for t in range(n - k))
        assert got[k]["n_pairs"] == n - k
        # exact BIGINT/DECIMAL sums -> correctly-rounded doubles; the
        # Python ints replicate the DECIMAL(38,0) sums exactly
        assert got[k]["r_acf"] == float(num) / float(den)
    # the hourly series has a strong daily cycle in the generator; at
    # minimum the ACF must be a correlation (|r| <= 1) and lag-author
    # degenerate witnesses (all equal) are excluded by den > 0
    assert den > 0
    assert all(abs(r["r_acf"]) <= 1.0 for r in got.values())



def test_median_twopass_replicates_and_matches_percentile_cont(spark):
    from impala_base_to_cdw_sizing_spark.operators.selection import (
        q_median_twopass,
    )

    con = duckdb.connect()
    cents = sorted(
        r[0]
        for r in con.execute(
            "SELECT CAST(l_extendedprice * 100 AS BIGINT)"
            f" FROM '{SF_DIR}/lineitem.parquet'"
        ).fetchall()
    )
    qc = con.execute(
        "SELECT quantile_cont(l_extendedprice, 0.5)"
        f" FROM '{SF_DIR}/lineitem.parquet'"
    ).fetchone()[0]
    con.close()
    n = len(cents)
    k1, k2 = (n + 1) // 2, (n + 2) // 2
    row = q_median_twopass(spark, SF_DIR).collect()[0]
    assert (row["n"], row["k1"], row["k2"]) == (n, k1, k2)
    assert (row["v_lo_cents"], row["v_hi_cents"]) == (
        cents[k1 - 1], cents[k2 - 1],
    )
    assert row["median"] == float(cents[k1 - 1] + cents[k2 - 1]) / 200.0
    # independent semantic witness: the two-pass selection IS
    # PERCENTILE_CONT(0.5) of the dollar column
    assert row["median"] == pytest.approx(float(qc), rel=0, abs=1e-9)


def test_median_twopass_even_and_odd_fixtures(spark, tmp_path):
    con = duckdb.connect()
    for name, vals, want in [
        ("even", [10.00, 20.00, 30.00, 40.00], 25.0),
        ("odd", [10.00, 20.00, 30.00, 40.00, 50.00], 30.0),
    ]:
        d = tmp_path / name
        d.mkdir()
        rows = ", ".join(f"(CAST({v} AS DECIMAL(12,2)))" for v in vals)
        con.execute(
            f"COPY (SELECT * FROM (VALUES {rows}) AS t(l_extendedprice))"
            f" TO '{d}/lineitem.parquet' (FORMAT PARQUET)"
        )
        from impala_base_to_cdw_sizing_spark.operators.selection import (
            q_median_twopass,
        )

        row = q_median_twopass(spark, str(d)).collect()[0]
        assert row["median"] == want, name
    con.close()
if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-v"]))


def test_entropy_jsd_replicates_det_ln_chain(spark):
    """Pure-Python replication of the FULL det-ln/entropy/JSD pipeline —
    same 16-sqrt + atanh-series chain in IEEE doubles, same integer
    micro-nat quantization, same final divisions — demanding bit-equal
    doubles; plus semantic witnesses against math.log entropies."""
    import math

    from impala_base_to_cdw_sizing_spark.operators.infotheory import (
        q_entropy_jsd,
    )

    def det_ln_micro(ratio: float) -> int:
        y = ratio
        for _ in range(16):
            y = math.sqrt(y)
        z = (y - 1.0) / (y + 1.0)
        z2 = z * z
        series = 2.0 * z * (1.0 + z2 * (1.0 / 3.0 + z2 * (1.0 / 5.0 + z2 * (1.0 / 7.0))))
        return int(math.floor(65536.0 * series * 1000000.0 + 0.5))

    seg_counts = defaultdict(lambda: defaultdict(int))
    for user_id, ts_ns, etype in _events():
        day = ts_ns // _DAY_NS
        seg = 1 if (day + 3) % 7 >= 5 else 0
        seg_counts[seg][etype] += 1
    np_, nq = sum(seg_counts[0].values()), sum(seg_counts[1].values())
    types = sorted(set(seg_counts[0]) | set(seg_counts[1]))

    def h_seg(counts, nt):
        s = sum(
            n * det_ln_micro(float(n) / float(nt))
            for n in counts.values() if n > 0
        )
        return -(float(s)) / (float(nt) * 1000000.0)

    hp, hq = h_seg(seg_counts[0], np_), h_seg(seg_counts[1], nq)
    s_mix = sum(
        (seg_counts[0].get(t, 0) * nq + seg_counts[1].get(t, 0) * np_)
        * det_ln_micro(
            float(seg_counts[0].get(t, 0) * nq + seg_counts[1].get(t, 0) * np_)
            / float(2 * np_ * nq)
        )
        for t in types
    )
    hm = -(float(s_mix)) / float(2 * np_ * nq * 1000000)

    row = q_entropy_jsd(spark, SF_DIR).collect()[0]
    assert (row["n_weekday"], row["n_weekend"]) == (np_, nq)
    assert row["h_weekday"] == hp
    assert row["h_weekend"] == hq
    assert row["h_mixture"] == hm
    assert row["jsd_nats"] == hm - (hp + hq) / 2.0
    # semantic witnesses: agreement with true float entropies to the
    # det-ln error bound, and the JSD range law 0 <= JSD <= ln 2
    true_hp = -sum(
        (n / np_) * math.log(n / np_) for n in seg_counts[0].values() if n
    )
    assert abs(row["h_weekday"] - true_hp) < 1e-5
    assert -1e-12 <= row["jsd_nats"] <= math.log(2.0)


def test_weighted_median_replicates(spark):
    from impala_base_to_cdw_sizing_spark.operators.selection import (
        q_weighted_median,
    )

    con = duckdb.connect()
    rows = con.execute(
        "SELECT CAST(l_extendedprice * 100 AS BIGINT),"
        " CAST(l_quantity AS BIGINT)"
        f" FROM '{SF_DIR}/lineitem.parquet'"
    ).fetchall()
    con.close()
    rows.sort()
    w_total = sum(w for _, w in rows)
    threshold = (w_total + 1) // 2
    cw = 0
    for cents, w in rows:
        cw += w
        if cw >= threshold:
            med = cents
            break
    r = q_weighted_median(spark, SF_DIR).collect()[0]
    assert (r["w_total"], r["threshold"], r["median_cents"]) == (
        w_total, threshold, med,
    )
    assert r["weighted_median"] == float(med) / 100.0


def test_cramers_v_replicates_and_is_scale_free(spark):
    """V from the chi-square integer pipeline; brackets hold and the
    value sits in [0, 1] (scale-free, unlike chi2 itself)."""
    import math

    from impala_base_to_cdw_sizing_spark.operators.stats_tests import (
        q_chi2_independence,
        q_cramers_v,
    )

    chi = q_chi2_independence(spark, SF_DIR).collect()[0]
    r = q_cramers_v(spark, SF_DIR).collect()[0]
    min_rc = min(chi["n_types"] - 1, chi["n_hods"] - 1)
    assert r["min_rc"] == min_rc
    assert r["cramers_v"] == math.sqrt(
        chi["chi2"] / float(chi["n_total"] * min_rc)
    )
    assert r["cramers_v_upper"] == math.sqrt(
        (chi["chi2"] + chi["chi2_err_bound"]) / float(chi["n_total"] * min_rc)
    )
    assert 0.0 <= r["cramers_v"] <= r["cramers_v_upper"] <= 1.0


def test_group_median_twopass_replicates(spark):
    from impala_base_to_cdw_sizing_spark.operators.selection import (
        q_group_median_twopass,
    )

    con = duckdb.connect()
    rows = con.execute(
        "SELECT l_returnflag, CAST(l_extendedprice * 100 AS BIGINT)"
        f" FROM '{SF_DIR}/lineitem.parquet'"
    ).fetchall()
    con.close()
    by_grp = defaultdict(list)
    for grp, cents in rows:
        by_grp[grp].append(cents)
    got = {r["grp"]: r for r in q_group_median_twopass(spark, SF_DIR).collect()}
    assert set(got) == set(by_grp)
    for grp, vals in by_grp.items():
        vals.sort()
        n = len(vals)
        k1, k2 = (n + 1) // 2, (n + 2) // 2
        r = got[grp]
        assert (r["n"], r["k1"], r["k2"]) == (n, k1, k2)
        assert (r["v_lo_cents"], r["v_hi_cents"]) == (
            vals[k1 - 1], vals[k2 - 1],
        )
        assert r["median"] == float(vals[k1 - 1] + vals[k2 - 1]) / 200.0
