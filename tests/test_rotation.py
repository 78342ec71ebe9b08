"""Declared-tier rotation contract: the driver samples the first 50 rows
of ``queries()``, the sizing rows always lead, and consecutive rounds'
samples tile the rotating tail. ``canonical_query_order()`` (what
bench.py iterates) stays a permutation of the declared names."""

from __future__ import annotations

import pytest

import __spark_entry__ as ent

pytestmark = pytest.mark.slow  # release-gate tier (r8 verdict #8)


def test_declared_tier_is_fully_oracled_and_rotates():
    # every declared query has an oracle
    assert set(ent.queries()) == set(ent.oracle_sql())
    # promoted flagships actually landed in the declared tier; since r10
    # the declared tail ROTATES by round (r9 verdict #1), so the pinned
    # invariant is no longer "promoted inside the first 34" but the
    # rotation contract itself: the sizing rows always lead, and any two
    # CONSECUTIVE rounds' driver samples (first 50 rows) jointly cover
    # every declared name — promoted included.
    import __spark_entry__ as entry_mod
    from impala_base_to_cdw_sizing_spark.operators import queries_ext

    declared_order = list(ent.queries())
    for name in queries_ext.PROMOTED:
        assert name in declared_order

    sizing = list(entry_mod._SIZING_QUERIES)
    assert declared_order[: len(sizing)] == sizing
    rnd = entry_mod._round_number()
    window = entry_mod._DRIVER_SAMPLE_ROWS - len(sizing)

    # Reconstruct the canonical (unrotated) order from the REGISTRATION
    # source — head names first, then queries_ext registration order —
    # instead of un-rotating the already-rotated declared order, which
    # only re-canonicalizes head entries (r10 ADVICE).
    ext_reg = list(queries_ext.queries())
    head = [n for n in entry_mod._ROTATION_HEAD if n in ext_reg]
    canon = head + [n for n in ext_reg if n not in set(head)]
    assert sorted(canon) == sorted(
        n for n in declared_order if n not in entry_mod._SIZING_QUERIES
    )

    def sample_at(round_no: int) -> set[str]:
        shift = ((round_no - 10) * window) % len(canon)
        rotated = canon[shift:] + canon[:shift]
        return set(sizing) | set(rotated[:window])

    # the reconstruction must reproduce the ACTUAL driver sample (first
    # 50 rows of queries()) for the current round, exactly
    assert sample_at(rnd) == set(
        declared_order[: entry_mod._DRIVER_SAMPLE_ROWS]
    )
    # and three consecutive rounds' samples jointly cover every declared name
    assert (
        sample_at(rnd) | sample_at(rnd + 1) | sample_at(rnd + 2)
        == set(declared_order)
    )

    # r13 (r12 verdict task 3) — the THREE-round rotation contract,
    # pinned: rotation capacity is exactly full (114 rotating names =
    # 3 windows of 38, zero slack), so any three consecutive samples
    # must PARTITION the rotating tier — any off-by-one in the shift
    # arithmetic would silently leave names uncovered. Growing the
    # declared tier past 3*window breaks the guarantee; see README's
    # driver-contract section and the hypothesis tiling property below.
    assert len(canon) == 3 * window, (
        f"declared rotating tier must stay exactly 3 windows "
        f"({3 * window}), got {len(canon)} — see README driver contract"
    )
    exts = [sample_at(rnd + i) - set(sizing) for i in range(3)]
    for i in range(3):
        for j in range(i + 1, 3):
            assert not exts[i] & exts[j], (
                "driver samples within one rotation cycle overlap on "
                "rotating names — zero-slack tiling broken"
            )
    assert exts[0] | exts[1] | exts[2] == set(canon)


def test_rotation_tiling_property():
    """r12 verdict task 8: the shift formula's tiling invariant, proved
    over the PARAMETER SPACE rather than today's constants — for any
    rotating-tier size that is an exact multiple m of the window, every
    m consecutive rounds' windows partition the tier, from ANY starting
    round. This held for the 2-round contract (n = 2w) before r13
    widened it and holds for the 3-round contract (n = 3w) now, so a
    future contract change re-proves itself by construction."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        window=st.integers(min_value=1, max_value=64),
        mult=st.integers(min_value=1, max_value=5),
        start_round=st.integers(min_value=1, max_value=1000),
    )
    def prop(window: int, mult: int, start_round: int) -> None:
        n = window * mult
        canon = list(range(n))

        def win(round_no: int) -> set[int]:
            shift = ((round_no - 10) * window) % n
            rotated = canon[shift:] + canon[:shift]
            return set(rotated[:window])

        wins = [win(start_round + i) for i in range(mult)]
        assert set().union(*wins) == set(canon)
        for i in range(mult):
            for j in range(i + 1, mult):
                assert not wins[i] & wins[j]

    prop()


def test_canonical_query_order_covers_declared_tier():
    """bench.py iterates canonical_query_order(); it must stay a
    permutation of the declared queries() keys (rotation-independent
    order, same name set) with the sizing rows leading."""
    import __spark_entry__ as entry_mod

    order = entry_mod.canonical_query_order()
    assert len(order) == len(set(order))
    assert set(order) == set(ent.queries())
    sizing = list(entry_mod._SIZING_QUERIES)
    assert order[: len(sizing)] == sizing
