"""Property tests for the cross-engine hash kernels — no Spark session.

The sketch operators' correctness rests on two deterministic kernels
agreeing across engines: the shared universal-hash cell family and the
JL sign matrix. Parity tests compare
Spark to DuckDB; these properties compare BOTH dialect formulas to an
independent Python reference over randomized inputs, so a dialect
expression that drifts (precedence, modulo semantics, hex parsing)
fails even if both engines drift together.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

_CON = duckdb.connect()  # one shared in-memory connection for all examples

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from impala_base_to_cdw_sizing_spark.operators.hashes import (  # noqa: E402
    UHASH_COEFFS,
    UHASH_P,
    uhash_expr,
)


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=0, max_value=(1 << 60) - 1))
def test_uhash_expr_matches_python_reference(h):
    for a, b in UHASH_COEFFS:
        # CAST the literal: the operators always feed BIGINT columns,
        # but a bare small literal parses as INT32 and overflows
        got = _CON.execute(
            f"SELECT {uhash_expr(f'CAST({h} AS BIGINT)', a, b, 2048)}"
        ).fetchone()[0]
        want = ((a * (h % UHASH_P) + b) % UHASH_P) % 2048
        assert got == want
        # and the intermediate product stays inside signed 64 (the
        # overflow guard hashes.py documents)
        assert a * (h % UHASH_P) + b < 2**63


def test_rp_sign_matrix_is_full_rank_and_balanced():
    import numpy as np

    from impala_base_to_cdw_sizing_spark.operators.similarity import (
        DIM,
        RP_DIM,
        _rp_signs,
    )

    S = np.array([_rp_signs(i) for i in range(RP_DIM)], dtype=float)
    assert S.shape == (RP_DIM, DIM)
    assert set(np.unique(S)) == {-1.0, 1.0}
    # full rank: no duplicated/degenerate rows (the rank-1 Knuth-parity
    # matrix this replaced had rank 1)
    assert np.linalg.matrix_rank(S) == RP_DIM
    # roughly balanced rows — a heavily biased row projects onto the
    # all-ones direction instead of a random one
    assert max(abs(S.sum(axis=1))) <= DIM // 4
