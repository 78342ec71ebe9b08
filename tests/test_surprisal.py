"""Behavioral pins for the unigram-surprisal filter (parity runs in
tools/compare_oracle.py): the filter must actually separate boilerplate and
gibberish tails, which the uniform synthetic corpus cannot show — so the
tails are synthesized here, the same approach as the Gopher-rule
non-vacuity tests.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tests.conftest import SF_SMALL  # noqa: E402

from impala_base_to_cdw_sizing_spark.operators.surprisal import (  # noqa: E402
    q_unigram_surprisal,
    unigram_surprisal,
)


def test_keep_flag_splits_the_real_corpus(spark):
    rows = q_unigram_surprisal(spark, SF_SMALL).collect()
    kept = sum(r["keep"] for r in rows)
    assert 0 < kept < len(rows), "band cut must be non-vacuous on the corpus"


def test_degenerate_tails_are_filtered(spark):
    # 20 normal docs sharing a mid-frequency vocabulary, one boilerplate
    # doc (a single token repeated — near-zero surprisal) and one
    # gibberish doc (every token unique corpus-wide — maximal surprisal)
    normal = [
        (i, " ".join(f"w{(i * 7 + k) % 40}" for k in range(30)))
        for i in range(20)
    ]
    boiler = [(100, " ".join(["the"] * 60 * 5))]
    gibber = [(101, " ".join(f"zq{i}x" for i in range(30)))]
    docs = spark.createDataFrame(
        normal + boiler + gibber, "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in unigram_surprisal(docs).collect()}
    mean_normal = sum(out[i]["mean_bits"] for i in range(20)) / 20
    # boilerplate: its token dominates the corpus -> low surprisal
    assert out[100]["mean_bits"] < mean_normal
    assert out[100]["keep"] == 0
    # gibberish: singleton tokens -> maximal surprisal
    assert out[101]["mean_bits"] > mean_normal
    assert out[101]["keep"] == 0


def test_random_projection_preserves_cosines(spark):
    # JL pin on the declared emb_random_projection: the md5 sign matrix
    # must behave like a true Rademacher projection (mean abs cosine
    # error ~1/sqrt(16)); a structured generator measurably breaks this
    # (0.63 mean with a Knuth-bit matrix vs ~0.19 here) — all values are
    # deterministic, so the bound is exact, not flaky. The cosines of
    # every query-vector pair are computed here in numpy, before and
    # after projection.
    import numpy as np

    from impala_base_to_cdw_sizing_spark.operators.similarity import (
        N_QUERIES,
        RP_DIM,
        q_random_projection,
    )

    keep = f"vec_id < {N_QUERIES}"
    orig = {
        r.vec_id: np.array(r.embedding, dtype=float)
        for r in spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").filter(keep).collect()
    }
    proj = {
        r.vec_id: np.array([r[f"r{i:02d}"] for i in range(RP_DIM)])
        for r in q_random_projection(spark, SF_SMALL).filter(keep).collect()
    }

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    errs = [
        abs(cos(orig[a], orig[b]) - cos(proj[a], proj[b]))
        for a in proj for b in proj if a < b
    ]
    assert errs
    assert sum(errs) / len(errs) < 0.35
