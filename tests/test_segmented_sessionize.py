"""Segmented sessionization (r9 skewed gate): the per-(user, week-bucket)
decomposition must be row-equal to the sequential single-window form —
especially at bucket boundaries, where the carry replaces the local lag.
On the real tables the sequential form is the DuckDB oracle.
"""

from __future__ import annotations

import pytest

from impala_base_to_cdw_sizing_spark.operators import segmented as S
from impala_base_to_cdw_sizing_spark.operators.relational import (
    _GAP_NS,
    SQL_SESSIONIZE,
    q_sessionize_segmented,
)
from tests.conftest import SF_SMALL
from tools.compare_oracle import compare_frames, duck_connection

_WEEK = S._SESS_SPAN_NS


def test_segmented_equals_sequential_on_testdata(spark):
    con = duck_connection(SF_SMALL)
    issues = compare_frames(
        "q_sessionize_segmented",
        q_sessionize_segmented(spark, SF_SMALL).toPandas(),
        con.execute(SQL_SESSIONIZE).fetch_df(),
    )
    assert not issues, issues


@pytest.mark.parametrize("boundary_gap", [
    _GAP_NS,       # exactly the gap: NOT a new session, carried across buckets
    _GAP_NS + 1,   # one nanosecond over: new session at the bucket boundary
])
def test_bucket_boundary_carry(spark, boundary_gap):
    """A user whose consecutive events straddle a week-bucket boundary:
    the first event of the new bucket has no local lag, so its session
    flag comes entirely from the carried max-ts of the previous bucket —
    the exact branch a wrong carry would corrupt. Also covers an empty
    intermediate bucket (events 2 weeks apart → the carry must reach
    back to the latest NON-EMPTY bucket) and equal-ts ties at the
    boundary (same ts → same bucket by construction)."""
    base = 10 * _WEEK
    rows = [
        # u1: events just before and at/after a week boundary
        (1, base + _WEEK - 5, 1),
        (1, base + _WEEK - 5 + boundary_gap, 2),
        # u1: then silence for 2 weeks (one fully empty bucket), then one
        # more — always a new session (2 weeks >> gap), carried over the
        # empty bucket
        (1, base + 3 * _WEEK + 7, 3),
        # u2: tie on ts inside one bucket (event_id breaks the tie), then
        # a sub-gap follow-up in the next bucket → same session
        (2, base + _WEEK - 1, 4),
        (2, base + _WEEK - 1, 5),
        (2, base + _WEEK + 1, 6),
    ]
    ev = spark.createDataFrame(rows, "user_id BIGINT, ts BIGINT, event_id BIGINT")

    flagged = S.sessionize_flags(ev, _GAP_NS)
    got = {r.event_id: r.new_session for r in flagged.collect()}
    expect_e2_new = 0 if boundary_gap == _GAP_NS else 1
    assert got[1] == 1
    assert got[2] == expect_e2_new
    assert got[3] == 1  # carried over the empty bucket
    assert got[4] == 1
    assert got[5] == 0
    assert got[6] == 0  # sub-gap across the boundary: same session

    # and the full sequential replication on the same frame
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            (
                F.col("prev_ts").isNull()
                | (F.col("ts") - F.col("prev_ts") > _GAP_NS)
            ).cast("long"),
        )
    )
    seq_map = {r.event_id: r.new_session for r in seq.collect()}
    assert got == seq_map
