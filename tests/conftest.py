from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from impala_base_to_cdw_sizing_spark.session import build_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# A cheap 8-permutation / 4-band MinHash signature, (params, n_bands) for
# ``operators.text._band_frame``: the streaming near-dup tests band the
# corpus with it to stay fast.
MH_SMALL = ([(2, 1), (3, 7), (5, 13), (7, 31), (11, 101), (13, 257), (17, 523), (19, 1019)], 4)


@pytest.fixture(scope="session")
def spark():
    s = build_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


def ann_recall_at3(spark, sf_dir: str, ann) -> float:
    """recall@3 of an ANN frame (``q_id``, ``rank``, ``neighbor_id``):
    the share of each query vector's exact cosine top-3 (ties by id,
    self excluded) found among its rank <= 3 neighbors. The exact top-3
    is computed here in numpy, independent of the engine's operators."""
    import numpy as np

    from impala_base_to_cdw_sizing_spark.operators.similarity import N_QUERIES

    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    ids = np.array([r.vec_id for r in rows])
    v = np.array([r.embedding for r in rows], dtype=float)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    hits = 0
    for q in range(N_QUERIES):
        cos = v @ v[ids == q][0]
        ranked = sorted((-cos[i], ids[i]) for i in range(len(ids)) if ids[i] != q)
        exact = {int(i) for _, i in ranked[:3]}
        found = {r.neighbor_id for r in ann.filter(f"q_id = {q} AND rank <= 3").collect()}
        hits += len(exact & found)
    return hits / (3 * N_QUERIES)
