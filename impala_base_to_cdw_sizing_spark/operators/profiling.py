"""Table profiling — the ANALYZE/statistics-collection surface.

Every optimizer and data-quality pipeline starts from per-column
statistics and value histograms; this query implements the histogram
the way a 100 TB stats pass must:

- ``rel_equidepth_histogram``: 8 equal-population buckets of
  ``o_totalprice`` via NTILE semantics with a deterministic tiebreak —
  per-bucket count/min/max, the equi-depth histogram optimizers prefer
  over equi-width for skewed value distributions. The PRIMARY form
  (since r8) is segmented: value-range coarse buckets + parallel local
  ranks + broadcast carry-in, then NTILE computed as a per-row O(1)
  expression from the exact global rank
  (``segmented.segmented_row_number`` / ``segmented.ntile_expr``) — no
  single-partition sort anywhere in the plan. The DuckDB oracle runs the
  one-window NTILE, so the two-phase bit-equality is oracle-gated.

``q_analyze_stats`` (not registered; pinned by ``tests/test_profiling.py``)
is the one-scan statistics pass: per-column null counts, min/max and an
``approx_count_distinct`` NDV estimate for every profiled column in one
two-phase aggregate (N exact ``COUNT(DISTINCT)``s would trigger
Catalyst's Expand), with the estimates checked within 10% of exact NDVs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries_ext import register
from .segmented import ntile_expr, segmented_row_number
from ..sources.files import read_input

# (column, family): string bounds surface as min_value/max_value
# VARCHAR, numeric bounds as min_num/max_num DOUBLE — typed per family
# instead of one stringified pair, because the two engines' shortest-
# round-trip double formatters disagree on scientific-notation
# thresholds (Java Double.toString switches to E-notation at 1e7), so a
# stringified double bound silently depends on the data staying small.
# Doubles compare exactly in the comparator; bigint→double is exact
# below 2^53.
_PROFILE_COLS = [
    ("o_orderstatus", "str"),
    ("o_orderpriority", "str"),
    ("o_custkey", "num"),
    ("o_totalprice", "num"),
]


def q_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_input(spark, sf_dir, "orders")
    # THE one-scan stats pass: nulls, min/max, and every column's HLL
    # buffer coexist in a single two-phase aggregate (approx distinct is
    # a plain agg buffer — no Expand). min/max aggregate in the NATIVE
    # type: casting to string before aggregating would make numeric
    # bounds lexicographic ("99993" > "100279") — wrong statistics that
    # a mirrored oracle happily agrees with.
    one_scan_aggs = [F.count("*").alias("n_rows")]
    for c, _fam in _PROFILE_COLS:
        one_scan_aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"),
            F.min(F.col(c)).alias(f"min_{c}"),
            F.max(F.col(c)).alias(f"max_{c}"),
            F.approx_count_distinct(c, 0.02).alias(f"approx_ndv_{c}"),
        ]
    wide = orders.agg(*one_scan_aggs)
    # the exact NDVs exist ONLY to verify the estimates; each would
    # force an Expand if merged into the shared aggregate, so they run
    # as separate 1-row aggregates — a production stats pass drops them
    for c, _fam in _PROFILE_COLS:
        wide = wide.crossJoin(
            orders.agg(F.countDistinct(c).alias(f"exact_ndv_{c}"))
        )
    rows = []
    for c, fam in _PROFILE_COLS:
        if fam == "str":
            bounds = (
                f"CAST(min_{c} AS STRING), CAST(max_{c} AS STRING),"
                " CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"
            )
        else:
            bounds = (
                "CAST(NULL AS STRING), CAST(NULL AS STRING),"
                f" CAST(min_{c} AS DOUBLE), CAST(max_{c} AS DOUBLE)"
            )
        rows.append(
            f"'{c}', nulls_{c}, {bounds}, exact_ndv_{c},"
            f" CAST(abs(approx_ndv_{c} - exact_ndv_{c})"
            f" <= 0.1 * exact_ndv_{c} AS BIGINT)"
        )
    return wide.selectExpr(
        "n_rows",
        f"stack({len(_PROFILE_COLS)}, {', '.join(rows)})"
        " AS (col_name, n_nulls, min_value, max_value, min_num, max_num,"
        " exact_ndv, ndv_within_10pct)",
    )


_N_BUCKETS = 8
_HIST_COARSE = 32  # coarse value-range buckets for the segmented form


def q_equidepth_histogram_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmented equi-depth histogram — the scale path, bit-equal to the
    one-window NTILE of the DuckDB oracle (``SQL_EQUIDEPTH``).

    Prices quantize to integer cents (monotone: equal prices share a
    coarse bucket, so the bucketing is ordering-consistent for the
    ``(o_totalprice ASC, o_orderkey ASC)`` total order); uniform
    value-range slices give the coarse buckets — ONE subtract + integer
    divide per row, same expression shape as the sweep bucketizer. The
    exact global rank is then local-rank + broadcast carry, and the
    NTILE assignment becomes a per-row closed-form split of the rank.
    The bounds lookup is a 2-value driver action on a cached projection;
    at 100 TB the same slices come from table statistics or static range
    knowledge with no action at all. Any coarse bucketization yields a
    bit-identical histogram (the rank is exact regardless of slice
    placement); slicing only affects partition balance.
    """
    orders = (
        read_input(spark, sf_dir, "orders")
        .select(
            "o_totalprice",
            "o_orderkey",
            F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias("_cents"),
        )
        # GC-scoped materialization (not .cache(): a registered query must
        # leave no residual CacheManager entry behind, r8 ADVICE)
        .localCheckpoint(eager=True)
    )
    lo, hi = orders.agg(F.min("_cents"), F.max("_cents")).first()
    if lo is None:
        lo, hi = 0, 0
    span = max(1, (hi - lo) // _HIST_COARSE + 1)
    ev = orders.withColumn(
        "bucket", F.expr(f"CAST((_cents - {lo}) DIV {span} AS INT)")
    )
    ranked = segmented_row_number(
        ev, [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()]
    )
    n_rows = ev.agg(F.count("*").cast("long").alias("n_rows"))
    return (
        ranked.crossJoin(F.broadcast(n_rows))
        .selectExpr(
            "o_totalprice",
            f"CAST({ntile_expr('grank', 'n_rows', _N_BUCKETS)} AS BIGINT) AS bucket",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


SQL_EQUIDEPTH = f"""
SELECT bucket, COUNT(*) AS n, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
FROM (
  SELECT o_totalprice,
    CAST(NTILE({_N_BUCKETS}) OVER (
      ORDER BY o_totalprice ASC, o_orderkey ASC) AS BIGINT) AS bucket
  FROM orders
)
GROUP BY bucket
"""


def register_all() -> None:
    # segmented (r7 verdict #1) against the one-window NTILE oracle, so
    # the two-phase bit-equality is oracle-gated
    register(
        "rel_equidepth_histogram", q_equidepth_histogram_segmented, SQL_EQUIDEPTH
    )
