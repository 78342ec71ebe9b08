"""Shared universal-hash family for the sketch operators.

``sketch_countmin_topk`` (countmin.py) draws its row hashes from ONE
audited family: a prime modulus and four (a, b) coefficient pairs,
applied as ``((a * (h % P) + b) % P) % width``. Reducing ``h`` mod P
FIRST keeps ``a * h'`` far below signed-64 overflow (a ≤ 13, h' < 2^30)
— the overflow guard lives here once, not per sketch. A sketch that
needs independence from these picks different coefficients explicitly.
"""

from __future__ import annotations

UHASH_P = 1_000_000_007
UHASH_COEFFS = [(3, 17), (5, 101), (7, 523), (13, 2029)]


def uhash_expr(h: str, a: int, b: int, width: int) -> str:
    """The ``((a * (h % P) + b) % P) % width`` cell expression — valid in
    both Spark SQL and DuckDB dialects."""
    return f"(({a} * ({h} % {UHASH_P}) + {b}) % {UHASH_P}) % {width}"
