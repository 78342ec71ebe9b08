"""Behavioral pins for the count-min sketch (parity runs in
tools/compare_oracle.py): the one-sided error guarantee is structural — an
estimate can NEVER be below the true count — and the fixture's sketch
must actually collide somewhere or the overestimate accounting is
untested.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tests.conftest import SF_SMALL  # noqa: E402

from impala_base_to_cdw_sizing_spark.operators.countmin import (  # noqa: E402
    _CM_W,
    q_countmin_heavy_hitters,
)


def test_countmin_one_sided_error(spark):
    from pyspark.sql import functions as F

    from impala_base_to_cdw_sizing_spark.operators.text import (
        SPARK_SHINGLES,
        SPARK_TOKENS,
    )

    # precondition: the item universe exceeds the sketch width, so
    # collisions are structurally possible
    n_distinct = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .selectExpr(f"{SPARK_TOKENS} AS tokens")
        .selectExpr(f"explode({SPARK_SHINGLES}) AS s")
        .agg(F.countDistinct("s"))
        .collect()[0][0]
    )
    assert n_distinct > _CM_W

    rows = q_countmin_heavy_hitters(spark, SF_SMALL).collect()
    assert len(rows) == 20
    total_overest = 0
    for r in rows:
        # CM guarantee: min over rows of the counters >= true count
        assert r["est_n"] >= r["exact_n"], r
        assert r["overestimate"] == r["est_n"] - r["exact_n"]
        total_overest += r["overestimate"]
    # the vocabulary (> _CM_W distinct tokens) forces collisions, so the
    # sketch must overestimate SOMEWHERE — otherwise w is oversized for
    # the fixture and the error path is vacuous
    assert total_overest > 0
