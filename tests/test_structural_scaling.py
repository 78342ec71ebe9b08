"""Structural-count scaling pinned as regression tests (r10 verdict #4).

The skewed-sf10 defense of `dedup_prefixfilter` (candidates/pair-mass/
output linear in data) and `dedup_components` (CC edges/rounds identical
under skew) lived in SCALE.md prose + one-off sf30 probe runs.
Here the same counts are computed at sf1/sf3 (uniform + skew, derived
deterministically from the driver's sf0.1 by `tools/gen_sf1.py` —
generated on the fly if the `.testdata` dirs are missing) and the ratios
asserted within bounds, so the "wall-clock super-linearity is the
single-JVM harness, the ALGORITHM is linear" attribution is falsifiable:
a plan regression that makes candidate growth super-linear or skew-
sensitive fails this suite regardless of how the box happens to time it.

Counts are exact (no wall-clock anywhere): docs, prefix-candidate pairs,
per-shingle pair mass Σc², verified output pairs; minhash CC edges,
endpoints, label rows, convergence rounds.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.slow  # release-gate tier

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

REPO = Path(__file__).resolve().parent.parent
SRC = "/root/testdata/sf0.1"

# (tag, copies, skew) — sf3/sf1 = 3.0x data in each family
DATASETS = [
    ("sf1", 10, False),
    ("sf3", 30, False),
    ("sf1skew", 10, True),
    ("sf3skew", 30, True),
]

DATA_RATIO = 3.0
# candidate/pair-mass growth may run slightly sub/super the data ratio
# (prefix lengths shift with df ranks); sf10 measured 3.11x for 3.33x
# data => ratio-of-ratios 0.93. Allow ±25% around linear.
LIN_LO, LIN_HI = DATA_RATIO / 1.25, DATA_RATIO * 1.25
# skew-flat: skewed counts within ±15% of uniform at the same sf
# (sf10 measured: pair mass 36.0M vs 35.5M = +1.4%, edges -0.05%)
SKEW_TOL = 1.15


def _ensure(tag: str, copies: int, skew: bool) -> str:
    out = REPO / ".testdata" / tag
    if not (out / "documents.parquet").exists():
        if not Path(SRC).exists():
            pytest.skip(f"source {SRC} missing")
        from tools.gen_sf1 import generate

        generate(SRC, str(out), copies, skew=skew)
    return str(out)


@pytest.fixture(scope="module")
def counts(spark):
    from impala_base_to_cdw_sizing_spark.operators.ppjoin import (
        _candidates,
        _prefix,
        _sh,
        q_prefixfilter,
    )
    from impala_base_to_cdw_sizing_spark.operators.text import (
        cc_labels_converged,
        q_dedup_minhash,
    )

    out: dict[str, dict] = {}
    for tag, copies, skew in DATASETS:
        d = _ensure(tag, copies, skew)
        rec: dict[str, int] = {}

        sh = _sh(spark, d)
        rec["pf_docs"] = sh.count()
        pref = _prefix(sh)
        rec["pf_pair_mass"] = int(
            pref.groupBy("shingle")
            .count()
            .agg(F.sum(F.col("count") * F.col("count")))
            .collect()[0][0]
        )
        rec["pf_candidates"] = _candidates(pref).count()
        rec["pf_output"] = q_prefixfilter(spark, d).count()

        pairs = (
            q_dedup_minhash(spark, d)
            .filter(F.col("est_jaccard") >= 0.5)
            .select("doc_a", "doc_b")
        )
        edges = pairs.union(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        ).cache()
        rec["cc_edges"] = edges.count()
        endpoints = edges.select(F.col("doc_a").alias("doc_id")).distinct()
        rec["cc_endpoints"] = endpoints.count()
        rounds: list[int] = []
        labels = cc_labels_converged(edges, endpoints, rounds_out=rounds)
        rec["cc_labels"] = labels.count()
        rec["cc_rounds"] = rounds[0]
        edges.unpersist()

        # semantic-dedup candidate structure (r12: the quantizer family's
        # scale defense — anchor-capped within-cell pairs)
        from impala_base_to_cdw_sizing_spark.operators.curation import (
            _sem_assigned,
            _sem_candidate_pairs,
        )

        assigned = _sem_assigned(spark, d).cache()
        rec["sem_vectors"] = assigned.count()
        rec["sem_candidates"] = _sem_candidate_pairs(assigned).count()
        assigned.unpersist()
        spark.catalog.clearCache()
        out[tag] = rec
    return out


def _ratio(counts, key, hi_tag, lo_tag) -> float:
    return counts[hi_tag][key] / counts[lo_tag][key]


def test_docs_scale_exactly(counts):
    for hi, lo in [("sf3", "sf1"), ("sf3skew", "sf1skew")]:
        assert _ratio(counts, "pf_docs", hi, lo) == DATA_RATIO


def test_prefixfilter_candidates_linear(counts):
    """Candidate pairs grow ~linearly with data in both families — the
    prefix-filter bound is doing its job (all-pairs would grow 9x)."""
    for hi, lo in [("sf3", "sf1"), ("sf3skew", "sf1skew")]:
        r = _ratio(counts, "pf_candidates", hi, lo)
        assert LIN_LO <= r <= LIN_HI, (hi, lo, r)


def test_prefixfilter_pair_mass_linear(counts):
    """Σc² over per-shingle prefix lists — the join's true work term —
    stays linear: per-shingle list sizes are scale-invariant (df-ranked
    prefixes), so the mass grows with the number of lists, not their
    square."""
    for hi, lo in [("sf3", "sf1"), ("sf3skew", "sf1skew")]:
        r = _ratio(counts, "pf_pair_mass", hi, lo)
        assert LIN_LO <= r <= LIN_HI, (hi, lo, r)


def test_prefixfilter_output_exactly_linear(counts):
    """Verified duplicate pairs scale EXACTLY with copies: gen_sf1's
    copies never near-duplicate each other, so output = copies x the
    per-copy pair count (sf10 measured exactly 3.33x)."""
    for hi, lo in [("sf3", "sf1"), ("sf3skew", "sf1skew")]:
        assert _ratio(counts, "pf_output", hi, lo) == DATA_RATIO


def test_prefixfilter_skew_flat(counts):
    """Hot-key injection must not blow up the candidate structure."""
    for sf in ["sf1", "sf3"]:
        for key in ["pf_candidates", "pf_pair_mass"]:
            r = counts[f"{sf}skew"][key] / counts[sf][key]
            assert 1 / SKEW_TOL <= r <= SKEW_TOL, (sf, key, r)


def test_components_structure_skew_invariant(counts):
    """CC edges/endpoints/labels within tolerance and convergence rounds
    EQUAL under skew (sf10 measured 51256 vs 51230 edges, rounds 3 = 3)."""
    for sf in ["sf1", "sf3"]:
        u, s = counts[sf], counts[f"{sf}skew"]
        assert s["cc_rounds"] == u["cc_rounds"], (sf, s["cc_rounds"], u["cc_rounds"])
        for key in ["cc_edges", "cc_endpoints", "cc_labels"]:
            r = s[key] / u[key]
            assert 1 / SKEW_TOL <= r <= SKEW_TOL, (sf, key, r)


def test_components_edges_linear(counts):
    """MinHash edge graph grows linearly with copies (copies don't link:
    the generator decorrelates cross-copy shingles by construction)."""
    for hi, lo in [("sf3", "sf1"), ("sf3skew", "sf1skew")]:
        r = _ratio(counts, "cc_edges", hi, lo)
        assert LIN_LO <= r <= LIN_HI, (hi, lo, r)


def _sem_model(n: int) -> float:
    """Balanced-cell candidate-count model for the anchor-capped
    SemDeDup pairing: k = min(ceil(sqrt(n)), K_CAP) cells of c = n/k
    vectors each; per cell, pairs = c(c-1)/2 while c <= CAP (exact
    all-pairs regime) else CAP*c - CAP(CAP+1)/2 (each of the CAP
    anchors pairs with every higher-id member). Total = k * per-cell.

    Regimes this implies for 3x data growth:
      - deep pre-saturation (c << CAP): ~n^1.5 -> ratio 5.20
      - full saturation (c >> CAP):     ~CAP*n -> ratio 3.00
      - the sf1/sf3 fixtures sit at the boundary (c = 141 vs 245,
        CAP = 128): model ratio 4.077, measured 4.074 (r13 probe,
        cand/model = 1.001 / 1.000 uniform, 1.095 / 1.029 skew).
    The r12 pin asserted the linear band (<= 3.75) here, which is the
    saturated asymptote, not this regime — re-derived per r12 verdict
    task 1; decision recorded in SCALE.md (r13)."""
    import math

    from impala_base_to_cdw_sizing_spark.operators.curation import (
        _SEM_CELL_CAP,
        _SEM_K_CAP,
    )

    k = min(math.ceil(math.sqrt(n)), _SEM_K_CAP)
    c = n / k
    cap = _SEM_CELL_CAP
    per = c * (c - 1) / 2 if c <= cap else cap * c - cap * (cap + 1) / 2
    return k * per


def test_semdedup_candidates_bounded_and_skew_flat(counts):
    """Three asserts, strongest first: (1) the hard bound
    candidates <= CAP * n holds everywhere (the scale guarantee);
    (2) the measured count tracks the balanced-cell model within
    [0.8, 1.25] absolute (k-means imbalance under hot-key skew adds
    <= +9.5% measured) and the sf3/sf1 growth ratio tracks the MODEL
    ratio within +-15% — the falsifiable replacement for the r12
    linear-band pin, which was wrong for this pre-saturation regime;
    (3) skew flatness (sf10 probe: 21.9M uniform vs 22.0M skew)."""
    from impala_base_to_cdw_sizing_spark.operators.curation import (
        _SEM_CELL_CAP,
    )

    for tag, rec in counts.items():
        assert rec["sem_candidates"] <= _SEM_CELL_CAP * rec["sem_vectors"], tag
        ratio_to_model = rec["sem_candidates"] / _sem_model(rec["sem_vectors"])
        assert 0.8 <= ratio_to_model <= 1.25, (tag, ratio_to_model)
    for hi, lo in [("sf3", "sf1"), ("sf3skew", "sf1skew")]:
        model_ratio = _sem_model(counts[hi]["sem_vectors"]) / _sem_model(
            counts[lo]["sem_vectors"]
        )
        r = _ratio(counts, "sem_candidates", hi, lo)
        assert model_ratio / 1.15 <= r <= model_ratio * 1.15, (hi, lo, r)
    for sf in ("sf1", "sf3"):
        r = counts[sf + "skew"]["sem_candidates"] / counts[sf]["sem_candidates"]
        assert 1 / SKEW_TOL <= r <= SKEW_TOL, (sf, r)


def test_semdedup_saturation_when_both_caps_bind(spark, monkeypatch):
    """r12 verdict task 4 — the saturation regime, pinned. At the
    natural constants the quantizer cap (k <= 4096) binds only past
    n = 16.8M vectors (cluster scale); here the cap is lowered to 64 so
    BOTH caps bind on the sf1/sf3 fixtures (k = 64 < sqrt(n); cell
    depth c = n/64 = 312/937 >> CAP = 128) and the saturation claims
    become measurable: candidates stay under the hard CAP*n bound, the
    count tracks the fixed-k model k*(CAP*c - CAP(CAP+1)/2) =
    CAP*n - k*CAP(CAP+1)/2, and growth collapses from the
    pre-saturation 4.08x to the model's near-linear 3.52x (-> 3x as
    n -> inf, the constant subtrahend amortizing away). Companion to
    the recorded sf30 full-constant probe in BASELINE.md (cap-load
    0.86 at sf10 -> ~0.92 at sf30, rising toward 1)."""
    from impala_base_to_cdw_sizing_spark.operators import curation

    k_cap = 64
    monkeypatch.setattr(curation, "_SEM_K_CAP", k_cap)
    cap = curation._SEM_CELL_CAP

    got = {}
    for tag in ("sf1", "sf3"):
        d = _ensure(tag, {"sf1": 10, "sf3": 30}[tag], False)
        assigned = curation._sem_assigned(spark, d).cache()
        n = assigned.count()
        cand = curation._sem_candidate_pairs(assigned).count()
        assigned.unpersist()
        spark.catalog.clearCache()
        assert cand <= cap * n, (tag, cand, cap * n)
        model = cap * n - k_cap * cap * (cap + 1) / 2
        assert 0.85 <= cand / model <= 1.15, (tag, cand / model)
        got[tag] = (n, cand)

    model_ratio = (cap * got["sf3"][0] - k_cap * cap * (cap + 1) / 2) / (
        cap * got["sf1"][0] - k_cap * cap * (cap + 1) / 2
    )
    r = got["sf3"][1] / got["sf1"][1]
    assert model_ratio / 1.15 <= r <= model_ratio * 1.15, (r, model_ratio)
    # saturated growth must sit BELOW the pre-saturation boundary ratio
    # (4.08 measured with the natural k) — the cap is doing its job
    assert r < 4.0, r
