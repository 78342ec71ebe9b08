"""Power-iteration PCA: the whole quantized recurrence must match a
numpy replica step for step (differential truth, not a mirrored oracle),
and the resulting direction must align with numpy's exact top
eigenvector of the centered covariance."""

from __future__ import annotations

import math

import numpy as np

from impala_base_to_cdw_sizing_spark.operators.pca import (
    _NANO,
    _PCA_ROUNDS,
    DIM,
    q_pca_power,
)
from tests.conftest import SF_ORACLE


def _numpy_replica(vecs: np.ndarray):
    """The SAME quantized recurrence in numpy (floor-nano means, nano
    per-term quantization before sums, nano-int direction)."""
    n = len(vecs)
    e_nano = np.floor(vecs * _NANO + 0.5).astype(np.int64)
    mean = e_nano.sum(axis=0, dtype=object)  # exact integer sums
    m = np.array([float(s) / _NANO / n for s in mean])
    cv = vecs - m
    xn = np.zeros(DIM, dtype=np.int64)
    xn[0] = 1_000_000_000
    nrm = 0.0
    for _ in range(_PCA_ROUNDS):
        dt = cv @ (xn / _NANO)
        t_nano = np.floor(cv * dt[:, None] * _NANO + 0.5).astype(np.int64)
        s = t_nano.sum(axis=0, dtype=object)
        yd = np.array([float(v) / _NANO for v in s])
        nrm = math.sqrt(float(np.dot(yd, yd)))
        xn = np.floor(yd / nrm * _NANO + 0.5).astype(np.int64)
    return xn, nrm, n


def test_pca_matches_numpy_replica_and_true_eigvec(spark):
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").toPandas()
    vecs = np.array([np.asarray(v, dtype=np.float64) for v in emb.embedding])
    xn_ref, nrm_ref, n = _numpy_replica(vecs)

    out = q_pca_power(spark, SF_ORACLE).toPandas().sort_values("pos")
    assert len(out) == DIM
    # exact integer agreement with the replica — any float-order leak
    # in the distributed sums would break this
    assert (out.loading_nano.to_numpy() == xn_ref).all()
    assert out.lambda_micro.nunique() == 1
    assert out.lambda_micro.iloc[0] == int(math.floor(nrm_ref / n * 1e6 + 0.5))

    # alignment with the EXACT top eigenvector of the centered
    # covariance (numpy eigh). Random embeddings have an adversarially
    # thin spectral gap (measured lambda1/lambda2 = 1.011 at sf0.01, so
    # power iteration gains ~1%/round and full convergence would take
    # hundreds of rounds); the pin is alignment CLEARLY above chance
    # (|cos| ~ 1/sqrt(64) ≈ 0.125 for a random direction): measured
    # 0.56 after the 3 unrolled rounds.
    cv = vecs - vecs.mean(axis=0)
    cov = cv.T @ cv / n
    w, v = np.linalg.eigh(cov)
    top = v[:, -1]
    x = out.loading_nano.to_numpy() / _NANO
    cos = abs(float(np.dot(x, top)) / np.linalg.norm(x))
    assert cos > 0.5, cos
    # the estimate must also be sane: within the top eigenvalue's
    # bracket (power iteration's Rayleigh estimate from below, up to
    # quantization)
    lam = out.lambda_micro.iloc[0] / 1e6
    assert lam <= w[-1] * 1.001
    assert lam >= w[-2] * 0.5  # clearly in the top of the spectrum


def test_whitening_unit_variance_and_decorrelation(spark):
    """The whitening contract: each output coordinate has ~unit variance
    (its PCA direction's Rayleigh lambda normalizes it) and the two
    coordinates are uncorrelated (orthogonal directions of a symmetric
    matrix). Tolerances cover the 3-round power iteration's residual
    error, not float noise."""
    from impala_base_to_cdw_sizing_spark.operators.pca import q_emb_whitening
    from tests.conftest import SF_SMALL

    rows = q_emb_whitening(spark, SF_SMALL).collect()
    n = len(rows)
    w1 = [r.w1_micro / 1e6 for r in rows]
    w2 = [r.w2_micro / 1e6 for r in rows]
    m1, m2 = sum(w1) / n, sum(w2) / n
    # centered input → near-zero means
    assert abs(m1) < 0.05 and abs(m2) < 0.05
    v1 = sum((a - m1) ** 2 for a in w1) / n
    v2 = sum((a - m2) ** 2 for a in w2) / n
    assert abs(v1 - 1.0) < 0.1, v1
    assert abs(v2 - 1.0) < 0.1, v2
    cov = sum((a - m1) * (b - m2) for a, b in zip(w1, w2)) / n
    assert abs(cov) < 0.1, cov
