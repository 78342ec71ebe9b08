"""Segmented prefix sums — the engine's one fallback for a global
ordered window, which Spark would otherwise plan on a single partition
(``Window.orderBy`` with no ``partitionBy``).

A running sum over a global order decomposes exactly into three steps:

1. a running window inside each coarse *ordering-consistent* bucket,
   run in parallel across executors (AQE re-splits an oversized bucket);
2. an exclusive prefix of the per-bucket totals — each bucket's
   *carry-in* — computed by a triangular self-join of the tiny totals
   frame (:func:`bucket_carry`);
3. a broadcast join of that carry-in back onto the rows
   (:func:`segmented_cumsum`).

"Ordering-consistent" means every row of bucket *b* sorts before every
row of bucket *b+1* and rows that compare equal on the leading order
column share a bucket; both hold whenever the bucket is a monotone
quantization of that leading column, which is how every caller
constructs it. Bucket ids only have to be ordered: they may be
negative (a descending order negates its quantization) and may have
gaps. With optional ``keys`` every step runs per key, which turns a
``PARTITION BY keys`` window into the same shape.

Summed values are integers or decimals, so ``local + carry`` is exact
and equals the single-window result bit for bit; each caller's DuckDB
oracle runs the single-window form. A rank is a running count
(:func:`segmented_row_number`), and a caller that only needs to locate
a target row (the two-pass medians) uses the carry alone.

The totals frame holds one row per bucket (per key), so the triangular
join is at most buckets² pairs. A partition-less window over it would
be just as cheap, but Spark logs a single-partition warning on every
such window and the registry-wide plan audit forbids the shape.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def bucket_carry(
    totals: DataFrame,
    bucket: str,
    sums: Sequence[str],
    keys: Sequence[str] = (),
) -> DataFrame:
    """Each bucket's exclusive prefix of the per-bucket totals.

    ``totals`` has one row per ``(*keys, bucket)``. Returns its rows with
    one column ``carry_<s>`` per name ``s`` in ``sums``: the sum of ``s``
    over the rows with the same ``keys`` and a smaller ``bucket``, 0 for
    the first bucket of each key."""
    part = [*keys, bucket]
    t, p = totals.alias("t"), totals.alias("p")
    cond = F.col(f"p.{bucket}") < F.col(f"t.{bucket}")
    for k in keys:
        cond = cond & (F.col(f"p.{k}") == F.col(f"t.{k}"))
    return (
        t.join(F.broadcast(p), cond, "left")
        .groupBy(*[F.col(f"t.{c}").alias(c) for c in part])
        .agg(
            # each group holds one t row, so max just passes its totals
            # through; unlike grouping by them, it lets a caller that
            # drops them prune the t side to a keys-only aggregate
            *[F.max(f"t.{c}").alias(c) for c in totals.columns if c not in part],
            *[
                F.coalesce(F.sum(f"p.{s}"), F.lit(0)).alias(f"carry_{s}")
                for s in sums
            ],
        )
    )


def segmented_cumsum(
    df: DataFrame,
    bucket: str,
    order: Sequence[Column],
    sums: Mapping[str, Column],
    keys: Sequence[str] = (),
) -> DataFrame:
    """Add inclusive running sums over ``order`` (per ``keys``), computed
    without a global sort.

    ``df[bucket]`` must be ordering-consistent for ``order`` (see module
    docstring). ``sums`` maps each output column to the per-row value it
    accumulates; an existing column of that name is replaced. Column
    names starting ``_loc_`` or ``carry_`` are used internally."""
    part = [*keys, bucket]
    w = (
        Window.partitionBy(*part)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = df.withColumns({f"_loc_{n}": F.sum(v).over(w) for n, v in sums.items()})
    totals = df.groupBy(*part).agg(*[F.sum(v).alias(n) for n, v in sums.items()])
    carry = bucket_carry(totals, bucket, list(sums), keys).select(
        *part, *[f"carry_{n}" for n in sums]
    )
    return (
        local.join(F.broadcast(carry), part)
        .withColumns({n: F.col(f"_loc_{n}") + F.col(f"carry_{n}") for n in sums})
        .drop(*[f"_loc_{n}" for n in sums], *[f"carry_{n}" for n in sums])
    )


def segmented_row_number(
    df: DataFrame,
    order_cols: list[Column],
    bucket: str = "bucket",
    out: str = "grank",
) -> DataFrame:
    """Add ``out`` = the exact 1-based global ``row_number()`` over
    ``order_cols``: a running count by :func:`segmented_cumsum`."""
    return segmented_cumsum(df, bucket, order_cols, {out: F.lit(1)})


# calendar-week segments: WindowExec pays a per-group setup cost, so the
# bucket count is a real knob — measured at sf1 (1M events, 15k users):
# 1-day buckets (users×31 groups) 4.4 s, 7-day (users×5) 0.53 s vs 0.52 s
# for the sequential single-window lag. A week still bounds a hot user's
# largest window partition to span/horizon of their history (~20% here,
# ~2% at a year-long 100 TB corpus) instead of all of it.
_SESS_SPAN_NS = 7 * 86_400 * 1_000_000_000


def sessionize_flags(
    ev: DataFrame,
    gap_ns: int,
    span_ns: int = _SESS_SPAN_NS,
) -> DataFrame:
    """Skew-proof session-boundary flags (r9: the skewed scale gate
    measured the single ``Window.partitionBy(user_id)`` lag jumping from
    α≈0.1 to α≈1.0 when one user carries ~30% of events — that user's
    whole history serializes into one task).

    Decomposition: partition by ``(user_id, bucket)`` where ``bucket =
    ts DIV span_ns`` (a calendar-week quantization — data-independent,
    ordering-consistent, no driver action). The local ``lag`` covers
    every row except each bucket's first; that row's predecessor is the
    LAST row of the user's previous non-empty bucket, whose ``ts`` is
    that bucket's ``max(ts)`` — carried via a per-user window over the
    per-(user, bucket) summary frame, which holds at most
    horizon/span rows per user (≈5 here) regardless of how hot the
    user is. All arithmetic is integer ns, so the flags are bit-equal
    to the single per-user window — pinned by the one-window DuckDB
    oracle of ``rel_sessionize``.

    Input needs columns ``user_id, ts, event_id`` (ts: epoch nanos).
    Output adds ``new_session``.
    """
    b = ev.withColumn("bucket", F.expr(f"ts DIV {span_ns}"))
    w_local = Window.partitionBy("user_id", "bucket").orderBy("ts", "event_id")
    w_user = Window.partitionBy("user_id").orderBy("bucket")

    # one pass over the events frame: local lag + the per-bucket last ts
    # the carry needs — so ALL cross-bucket arithmetic runs on the tiny
    # summary frame and the events frame is joined exactly once.
    # the locally-lagged frame feeds both the bucket summary and the
    # carry join; the subplans are identical so Spark reuses the shuffle
    # exchange, and the window itself is cheap at week granularity —
    # keeping the plan fully lazy (no checkpoint side effects at query
    # construction).
    loc = b.withColumn("_prev_local", F.lag("ts").over(w_local))
    carry = (
        loc.groupBy("user_id", "bucket")
        .agg(F.max("ts").alias("_bmax"))
        .withColumn("_carry_ts", F.lag("_bmax").over(w_user))
        .select("user_id", "bucket", "_carry_ts")
    )
    return (
        loc.join(carry, ["user_id", "bucket"])
        .withColumn("_prev", F.coalesce(F.col("_prev_local"), F.col("_carry_ts")))
        .withColumn(
            "new_session",
            (F.col("_prev").isNull() | (F.col("ts") - F.col("_prev") > gap_ns))
            .cast("long"),
        )
        .drop("_prev_local", "_carry_ts", "_prev", "bucket")
    )


def ntile_expr(rank: str, n: str, k: int) -> str:
    """SQL expression computing ``NTILE(k)`` from a 1-based global rank
    ``rank`` and total row count ``n`` — the exact SQL-standard split:
    the first ``n % k`` tiles get ``ceil(n/k)`` rows, the rest get
    ``floor(n/k)``. With the rank supplied by
    :func:`segmented_row_number` this turns NTILE into a per-row O(1)
    expression — no window at all.

    The ``greatest(q, 1)`` guards the unreachable ELSE branch when
    ``n < k`` (then ``n % k = n`` and every rank takes the THEN branch);
    Spark 4 runs ANSI mode where an evaluated ``DIV 0`` would raise.
    """
    q = f"(({n}) DIV {k})"
    r = f"(({n}) % {k})"
    big = f"({q} + 1)"
    return (
        f"CASE WHEN ({rank}) <= {r} * {big}"
        f" THEN (({rank}) - 1) DIV {big} + 1"
        f" ELSE {r} + ((({rank}) - 1) - {r} * {big}) DIV greatest({q}, 1) + 1"
        f" END"
    )
