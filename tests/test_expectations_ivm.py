"""Adversarial check for rel_incremental_join_view: the join-view
witness is asserted TRUE with both sides of the snapshot/delta cut
genuinely populated."""

from __future__ import annotations

from impala_base_to_cdw_sizing_spark.operators.olap_extra import (
    _IVM_CUT,
    q_incremental_join_view,
)
from tests.conftest import SF_SMALL


def test_join_view_ivm_witness_holds_with_real_delta(spark):
    out = q_incremental_join_view(spark, SF_SMALL).collect()
    assert out and all(r.consistent is True for r in out)
    # the algebra is only exercised if the cut splits the fact table
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    from pyspark.sql import functions as F

    n_old = orders.filter(F.col("o_orderdate") < _IVM_CUT).count()
    n_new = orders.filter(F.col("o_orderdate") >= _IVM_CUT).count()
    assert n_old > 0 and n_new > 0
