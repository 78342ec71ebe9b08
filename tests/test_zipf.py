"""Zipf fit: full pure-Python replication — top-100 selection,
triangular ranks, the det-ln micro pipeline (16 machine sqrts + the
atanh series, bit-for-bit), exact OLS sums, and the final double
arithmetic — plus the structural claims (negative slope, meaningful
r², guard-compliant plan shape is covered by the registry-wide
window lint)."""

from __future__ import annotations

import math
from collections import Counter

from impala_base_to_cdw_sizing_spark.operators import zipf as Z
from impala_base_to_cdw_sizing_spark.operators.text import _docs
from tests.conftest import SF_SMALL


def _det_ln_micro(ratio: float) -> int:
    y = float(ratio)
    for _ in range(16):
        y = math.sqrt(y)
    z = (y - 1.0) / (y + 1.0)
    z2 = z * z
    series = 2.0 * z * (1.0 + z2 * (1.0 / 3.0 + z2 * (1.0 / 5.0 + z2 * (1.0 / 7.0))))
    return math.floor(65536.0 * series * 1000000.0 + 0.5)


def _shingles(text: str):
    toks = text.split(" ")
    if len(toks) < 3:
        return [" ".join(toks)]
    return [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]


def test_zipf_fit_replicates_in_pure_python(spark):
    docs = _docs(spark, SF_SMALL).collect()
    freqs = Counter(s for d in docs for s in _shingles(d.text))
    top = sorted(freqs.items(), key=lambda kv: (-kv[1], kv[0]))[: Z._TOP]
    pts = []
    for i, (sh, f) in enumerate(top):
        rank = i + 1  # (-freq, shingle) order IS the better-than count
        pts.append((_det_ln_micro(rank), _det_ln_micro(f)))
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    syy = sum(y * y for _, y in pts)
    slope = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
    intercept = (float(sy) - slope * float(sx)) / float(n) / 1000000.0
    r2 = (
        float(n * sxy - sx * sy)
        * float(n * sxy - sx * sy)
        / (float(n * sxx - sx * sx) * float(n * syy - sy * sy))
    )
    row = Z.q_zipf_fit(spark, SF_SMALL).collect()[0]
    assert row.n == n
    assert row.slope == slope
    assert row.intercept_ln == intercept
    assert row.r2 == r2
    # a law is actually being fit: decay exists and explains most
    # variance in ln-ln space
    assert row.slope < 0
    assert 0.5 < row.r2 <= 1.0
