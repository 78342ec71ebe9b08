"""Pure-Python replication tests for the two-pass median and the
det-ln entropy/JSD chain.

Each test recomputes the operator from the raw parquet with Python
integers (exact, order-free) and demands BIT-EQUAL doubles from the
Spark plan — the same replication standard the det-ln/zipf tests set.
"""

from __future__ import annotations

from collections import defaultdict

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"
_DAY_NS = 86_400_000_000_000


def _events():
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT user_id, epoch_ns(ts), event_type FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    con.close()
    return rows


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
