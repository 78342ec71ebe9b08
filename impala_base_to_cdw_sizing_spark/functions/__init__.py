"""Scalar expression helpers shared across operators.

Everything here is a *native* Spark expression (JVM-side, whole-stage
codegen) — the reference's two user functions ``get_tsize`` and
``bytimestamp`` (``impala_query_sizing.py:71-84,351-352``) become native
expressions; no Python UDFs on parity paths (SURVEY.md §2.J).

``round2_sql`` is deliberately NOT the engines' ``round()``: Spark rounds
HALF_UP via BigDecimal while DuckDB rounds via C semantics, and the two can
disagree on binary-exact halves (e.g. 0.125). ``floor(x*100 + 0.5)/100``
is the same IEEE op sequence in both engines, so oracle hashes match.
All reference values are non-negative, where this equals HALF_UP.
``round2_py`` is the same op sequence in Python, for printed reports.
"""

from __future__ import annotations

import math


def round2_sql(x: str, d: str = "") -> str:
    """Deterministic 2-decimal HALF_UP rounding of the SQL expression
    ``x`` for non-negative values (mirrors the reference's pervasive
    ``round(x, 2)``, ``impala_query_sizing.py:203-206,220-227``), as SQL
    text for both engines. DuckDB takes it as is; Spark SQL text passes
    ``d="D"``, because Spark parses an unsuffixed ``100.0`` as a DECIMAL
    literal and the rounding must run on DOUBLEs."""
    return f"(floor(({x}) * 100.0{d} + 0.5{d}) / 100.0{d})"


def round2_py(x: float | None) -> float | None:
    """Python twin of :func:`round2_sql`. The built-in ``round(x, 2)``
    rounds binary-exact halves to even (0.125 -> 0.12); this gives
    0.13, as the Spark and DuckDB forms do. ``None`` stays ``None``,
    as NULL does in SQL."""
    if x is None:
        return None
    return math.floor(x * 100.0 + 0.5) / 100.0


def ceil_long_sql(x: str) -> str:
    """``int(math.ceil(x))`` (``impala_query_sizing.py:72,236,241,...``)
    as SQL text for both engines: the CAST is needed because DuckDB's
    ceil returns DOUBLE (Spark's already returns BIGINT)."""
    return f"CAST(ceil({x}) AS BIGINT)"
