"""Binary sign-quantization ANN: pure-Python replication of the packing
and Hamming arithmetic, plus a recall floor against the exact top-3."""

from __future__ import annotations

from impala_base_to_cdw_sizing_spark.operators import binary_ann as B
from impala_base_to_cdw_sizing_spark.operators.similarity import (
    N_QUERIES,
    TOP_K,
    _emb,
)
from tests.conftest import SF_ORACLE, SF_SMALL, ann_recall_at3


def _pack_all(rows):
    dim = len(rows[0].v)
    los = [min(r.v[i] for r in rows) for i in range(dim)]
    his = [max(r.v[i] for r in rows) for i in range(dim)]
    mids = [(lo + hi) / 2.0 for lo, hi in zip(los, his)]
    packed = {}
    for r in rows:
        lo_w = sum(1 << i for i in range(32) if r.v[i] > mids[i])
        hi_w = sum(1 << i for i in range(32) if r.v[i + 32] > mids[i + 32])
        packed[r.vec_id] = (lo_w, hi_w)
    return packed


def test_binary_hamming_replicates_in_pure_python(spark):
    rows = _emb(spark, SF_SMALL).collect()
    packed = _pack_all(rows)
    expect = {}
    for q in range(N_QUERIES):
        ql, qh = packed[q]
        scored = sorted(
            (
                (bin(ql ^ cl).count("1") + bin(qh ^ ch).count("1"), cid)
                for cid, (cl, ch) in packed.items()
                if cid != q
            )
        )
        for rank, (d, cid) in enumerate(scored[:TOP_K], 1):
            expect[(q, rank)] = (cid, d)
    got = B.q_binary_hamming(spark, SF_SMALL).collect()
    assert len(got) == N_QUERIES * TOP_K
    for r in got:
        assert (r.neighbor_id, r.hamming) == expect[(r.q_id, r.rank)]


def test_binary_hamming_recall_floor(spark):
    # 1 bit per dimension keeps a fraction of the exact top-3; the floors
    # sit just under the measured 0.33 (sf0.001) and 0.13 (sf0.01)
    for sf, floor in ((SF_SMALL, 0.3), (SF_ORACLE, 0.1)):
        recall = ann_recall_at3(spark, sf, B.q_binary_hamming(spark, sf))
        assert recall >= floor, (sf, recall)
