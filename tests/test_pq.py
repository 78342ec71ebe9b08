"""IVF-PQ properties that the oracle parity run can't see: the index's
compression contract (codes in range, one row per vector), and the
recall of the refined search (``sim_pq_refine``) against the exact
top-3 on both test corpora."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tests.conftest import SF_ORACLE, SF_SMALL, ann_recall_at3  # noqa: E402

from impala_base_to_cdw_sizing_spark.operators.pq import (  # noqa: E402
    _K,
    _M,
    _N_CELLS,
    _pq_index,
    q_pq_refine,
)


def test_index_is_the_compressed_form(spark):
    idx = _pq_index(spark, SF_SMALL).toPandas()
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    # one row per vector; schema is exactly cell + M byte-range codes —
    # the 64-float row is NOT in the index (that's the 64x compression)
    assert len(idx) == emb.count()
    assert list(idx.columns) == ["vec_id", "cell_id"] + [f"c{m}" for m in range(_M)]
    for m in range(_M):
        assert idx[f"c{m}"].between(0, _K - 1).all()
    assert idx["cell_id"].between(0, _N_CELLS - 1).all()
    # seeds are their own nearest codeword in every subspace (d2 = 0)
    seeds = idx[idx.vec_id < _K]
    for m in range(_M):
        assert (seeds[f"c{m}"] == seeds.vec_id).all()


def test_refine_dominates_adc_only(spark):
    # the refined search is a real ANN, not a coin flip: at least 2/3 of
    # the exact top-3 set comes back on both corpora (measured 0.93 at
    # sf0.001 and 0.80 at sf0.01)
    for sf in (SF_SMALL, SF_ORACLE):
        recall = ann_recall_at3(spark, sf, q_pq_refine(spark, sf))
        assert recall >= 2 / 3, (sf, recall)
