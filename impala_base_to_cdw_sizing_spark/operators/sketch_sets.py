"""Set-sketch operators (r8): bitmap membership rollups and KMV
(k-minimum-values) distinct sketches — the two mergeable set-summary
classes the sketch tier (Count-Min, Space-Saving, HLL-rollup,
histogram-quantile) did not yet cover.

- ``sketch_bitmap_rollup``: per (event_type, day) a 60-bit membership
  bitmap of ``user_id % 60`` slots, built two ways in one query —
  directly from rows, and by OR-merging the per-hour bitmaps — with the
  merge ≡ recompute witness as an output column (the incremental-rollup
  pattern applied to bitmap indexes; BIT_OR
  is the canonical mergeable bitmap aggregate, one BIGINT per group at
  any scale). ``bit_count`` gives the slot-occupancy estimate the way
  bitmap indexes answer membership cardinality.
- ``sketch_kmv_distinct``: per event_type the k smallest DISTINCT
  deterministic hashes of user_id (Knuth multiplicative, exact 64-bit
  integer arithmetic: max user_id·2654435761 ≪ 2^63) — the
  Bar-Yossef et al. 2002 KMV estimator ``(k−1)·M/h_k``. Mergeability
  is the whole point of KMV (union sketches = re-take k smallest of
  the sketch union), so the query computes the sketch twice — once
  over all rows, once by merging two per-half sketches — and emits the
  merge ≡ recompute witness per type. The estimate is one double
  division of exact integers (bit-equal cross-engine); accuracy is
  pinned against the exact distinct count as a within-25% flag (the
  k=64 theoretical relative error is ~1/√(k−2) ≈ 12.6%).

Both are two-phase partial aggregates / partitioned windows — no
global window, no driver round-trips; sketch size is O(groups · k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries_ext import register
from ..sources.files import load_events

_KNUTH = 2654435761
_BITS = 60  # slots per bitmap word (fits a BIGINT with sign headroom)
_KMV_K = 64
_KMV_M = 1 << 31

_SLOT = f"shiftleft(CAST(1 AS BIGINT), CAST(user_id % {_BITS} AS INT))"
_DUCK_SLOT = f"(CAST(1 AS BIGINT) << CAST(user_id % {_BITS} AS INT))"
_DAY = "CAST(ts DIV 86400000000000 AS BIGINT)"
_HOUR = "CAST(ts DIV 3600000000000 AS BIGINT)"
_DUCK_DAY = "CAST(epoch_ns(ts) // 86400000000000 AS BIGINT)"
_DUCK_HOUR = "CAST(epoch_ns(ts) // 3600000000000 AS BIGINT)"


def q_bitmap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).selectExpr(
        "event_type", f"{_DAY} AS day", f"{_HOUR} AS hr", f"{_SLOT} AS slot"
    )
    hourly = ev.groupBy("event_type", "day", "hr").agg(
        F.expr("bit_or(slot)").alias("bm_hour")
    )
    merged = hourly.groupBy("event_type", "day").agg(
        F.expr("bit_or(bm_hour)").alias("bm_merged")
    )
    direct = ev.groupBy("event_type", "day").agg(
        F.expr("bit_or(slot)").alias("bm_day")
    )
    return (
        direct.join(merged, ["event_type", "day"])
        .selectExpr(
            "event_type", "day", "bm_day",
            "CAST(bit_count(bm_day) AS BIGINT) AS occupied_slots",
            "bm_day = bm_merged AS merge_equals_recompute",
        )
    )


SQL_BITMAP_ROLLUP = f"""
WITH ev AS (
  SELECT event_type, {_DUCK_DAY} AS day, {_DUCK_HOUR} AS hr, {_DUCK_SLOT} AS slot
  FROM events
),
hourly AS (
  SELECT event_type, day, hr, bit_or(slot) AS bm_hour
  FROM ev GROUP BY 1, 2, 3
),
merged AS (
  SELECT event_type, day, bit_or(bm_hour) AS bm_merged
  FROM hourly GROUP BY 1, 2
),
direct AS (
  SELECT event_type, day, bit_or(slot) AS bm_day FROM ev GROUP BY 1, 2
)
SELECT event_type, day, bm_day,
  CAST(bit_count(bm_day) AS BIGINT) AS occupied_slots,
  bm_day = bm_merged AS merge_equals_recompute
FROM direct JOIN merged USING (event_type, day)
"""


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).selectExpr(
        "event_type",
        "user_id",
        f"(user_id * {_KNUTH}) % {_KMV_M} AS h",
        "user_id % 2 AS half",
    )
    # the distinct hash frame feeds three window branches (full sketch,
    # per-half sketches); it is (types × users)-sized — materialize it
    # once (eager localCheckpoint, GC-scoped) instead of re-running the
    # corpus distinct per branch
    hashes = ev.select("event_type", "h", "half").distinct().localCheckpoint()
    w_full = Window.partitionBy("event_type").orderBy("h")
    full = (
        hashes.withColumn("rk", F.row_number().over(w_full))
        .filter(F.col("rk") <= _KMV_K)
        .select("event_type", "h", "rk")
    )
    w_half = Window.partitionBy("event_type", "half").orderBy("h")
    halves = (
        hashes.withColumn("hrk", F.row_number().over(w_half))
        .filter(F.col("hrk") <= _KMV_K)
        .select("event_type", "h")
    )
    w_m = Window.partitionBy("event_type").orderBy("h")
    merged = (
        halves.withColumn("mrk", F.row_number().over(w_m))
        .filter(F.col("mrk") <= _KMV_K)
        .selectExpr("event_type", "h AS mh", "mrk")
    )
    # full-outer align by rank: a row missing on either side means the
    # sketches diverged — the CASE maps the null comparison to 0, so a
    # MIN over matches can never vacuously pass (a bare boolean cast
    # would turn the null into an ignored row)
    fs, ms = full.alias("fs"), merged.alias("ms")
    witness = (
        fs.join(
            ms,
            (F.col("fs.event_type") == F.col("ms.event_type"))
            & (F.col("fs.rk") == F.col("ms.mrk")),
            "full",
        )
        .groupBy(
            F.coalesce(
                F.col("fs.event_type"), F.col("ms.event_type")
            ).alias("event_type")
        )
        .agg(
            F.min(
                F.when(F.col("fs.h") == F.col("ms.mh"), 1).otherwise(0)
            ).alias("all_match")
        )
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    kth = full.groupBy("event_type").agg(
        F.count("*").cast("long").alias("sketch_n"),
        F.max("h").cast("long").alias("kth_hash"),
    )
    return (
        kth.join(exact, "event_type")
        .join(witness, "event_type")
        .selectExpr(
            "event_type",
            "sketch_n",
            "kth_hash",
            "n_exact",
            # sketch not full => the sketch IS the distinct set: exact
            f"CASE WHEN sketch_n < {_KMV_K} THEN CAST(sketch_n AS DOUBLE)"
            f" ELSE CAST(({_KMV_K} - 1) * CAST({_KMV_M} AS BIGINT) AS DOUBLE)"
            f" / CAST(kth_hash AS DOUBLE) END AS est_distinct",
            "all_match = 1 AS merge_equals_recompute",
        )
        .selectExpr(
            "event_type", "sketch_n", "kth_hash", "n_exact", "est_distinct",
            "abs(est_distinct - n_exact) / n_exact <= 0.25 AS within_25pct",
            "merge_equals_recompute",
        )
    )


SQL_KMV_DISTINCT = f"""
WITH ev AS (
  SELECT event_type, user_id,
    (user_id * {_KNUTH}) % {_KMV_M} AS h, user_id % 2 AS half
  FROM events
),
hashes AS (SELECT DISTINCT event_type, h, half FROM ev),
f AS (
  SELECT event_type, h, rk FROM (
    SELECT event_type, h, ROW_NUMBER() OVER (
      PARTITION BY event_type ORDER BY h) AS rk
    FROM hashes
  ) WHERE rk <= {_KMV_K}
),
halves AS (
  SELECT event_type, h FROM (
    SELECT event_type, h, ROW_NUMBER() OVER (
      PARTITION BY event_type, half ORDER BY h) AS hrk
    FROM hashes
  ) WHERE hrk <= {_KMV_K}
),
m AS (
  SELECT event_type, h AS mh, mrk FROM (
    SELECT event_type, h, ROW_NUMBER() OVER (
      PARTITION BY event_type ORDER BY h) AS mrk
    FROM halves
  ) WHERE mrk <= {_KMV_K}
),
witness AS (
  SELECT COALESCE(f.event_type, m.event_type) AS event_type,
    MIN(CASE WHEN f.h = m.mh THEN 1 ELSE 0 END) AS all_match
  FROM f FULL JOIN m ON f.event_type = m.event_type AND f.rk = m.mrk
  GROUP BY 1
),
exact AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM ev GROUP BY 1
),
kth AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS sketch_n,
    CAST(MAX(h) AS BIGINT) AS kth_hash
  FROM f GROUP BY 1
)
SELECT event_type, sketch_n, kth_hash, n_exact, est_distinct,
  abs(est_distinct - n_exact) / n_exact <= 0.25 AS within_25pct,
  merge_equals_recompute
FROM (
  SELECT event_type, sketch_n, kth_hash, n_exact,
    CASE WHEN sketch_n < {_KMV_K} THEN CAST(sketch_n AS DOUBLE)
      ELSE CAST(({_KMV_K} - 1) * CAST({_KMV_M} AS BIGINT) AS DOUBLE)
        / CAST(kth_hash AS DOUBLE) END AS est_distinct,
    all_match = 1 AS merge_equals_recompute
  FROM kth JOIN exact USING (event_type) JOIN witness USING (event_type)
)
"""


_SLIDE_K = 32
_SLIDE_HOURS = 24


def q_kmv_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct users — THE query exact methods cannot
    window (distinct doesn't decompose over overlapping frames) and the
    reason mergeable sketches exist: build one KMV sketch per
    (event_type, hour), then answer "distinct users in the trailing
    24 h" for EVERY hour by merging the window's hourly sketches
    (union the ≤ 24·k hashes, re-take the k smallest — the KMV merge).
    The fan-out is each hourly sketch row exploding into the ≤24 target
    hours it serves: intermediate size is hours·k·24, a function of the
    clock and the sketch — INDEPENDENT of event volume, which is the
    100 TB story (the exact computation would carry every distinct user
    into every overlapping window). Targets are restricted to hours
    that exist in the data; estimates are the same exact-integer
    arithmetic as :func:`q_kmv_distinct`."""
    ev = load_events(spark, sf_dir).selectExpr(
        "event_type",
        f"{_HOUR} AS hr",
        f"(user_id * {_KNUTH}) % {_KMV_M} AS h",
    )
    hourly_hashes = ev.select("event_type", "hr", "h").distinct()
    w_h = Window.partitionBy("event_type", "hr").orderBy("h")
    sketch = (
        hourly_hashes.withColumn("rn", F.row_number().over(w_h))
        .filter(F.col("rn") <= _SLIDE_K)
        .select("event_type", "hr", "h")
    )
    return kmv_sliding_from_sketch(sketch)


def kmv_sliding_from_sketch(sketch: DataFrame) -> DataFrame:
    """The sliding merge + estimate over an hourly-sketch frame
    (event_type, hr, h) — SHARED by the batch op above and the
    streaming sketch maintainer (``streaming/kmv_stream.py``), so the
    stream ≡ batch identity is the same code path, not a mirrored
    reimplementation.

    The sketch frame is hours × k rows — the eager localCheckpoint
    both materializes it once for the two reads below (hours + fan-out)
    and severs the lineage so the internal self-join resolves for ANY
    caller (the memory-sink snapshot the streaming test feeds in
    otherwise trips conflicting-reference resolution)."""
    sketch = sketch.localCheckpoint()
    hours = sketch.select("event_type", "hr").distinct().selectExpr(
        "event_type", "hr AS target_hr"
    )
    fanned = (
        sketch.selectExpr(
            "event_type", "h",
            f"explode(sequence(hr, hr + {_SLIDE_HOURS - 1})) AS target_hr",
        )
        .join(hours, ["event_type", "target_hr"])
        .select("event_type", "target_hr", "h")
        .distinct()
    )
    w_t = Window.partitionBy("event_type", "target_hr").orderBy("h")
    merged = (
        fanned.withColumn("rn", F.row_number().over(w_t))
        .filter(F.col("rn") <= _SLIDE_K)
    )
    return merged.groupBy("event_type", "target_hr").agg(
        F.count("*").cast("long").alias("sketch_n"),
        F.max("h").cast("long").alias("kth_hash"),
    ).selectExpr(
        "event_type", "target_hr", "sketch_n", "kth_hash",
        f"CASE WHEN sketch_n < {_SLIDE_K} THEN CAST(sketch_n AS DOUBLE)"
        f" ELSE CAST(({_SLIDE_K} - 1) * CAST({_KMV_M} AS BIGINT) AS DOUBLE)"
        f" / CAST(kth_hash AS DOUBLE) END AS est_distinct_24h",
    )


def q_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV *set algebra*: the day-over-day audience-overlap matrix —
    Jaccard similarity between the distinct-active-user sets of every
    pair of days — estimated purely from per-day KMV sketches (Beyer
    et al. 2007 §4 / the theta-sketch intersection rule): union the two
    sketches, re-take the k smallest (the KMV merge), and count how
    many of those union-top-k hashes appear in BOTH input sketches —
    J_est = matches / k. This is the whole point of keeping sketches
    instead of counts: intersection / Jaccard / union cardinality all
    fall out of O(k) work per pair, while the exact answer needs a
    full user-set join per day pair. (Keyed by day, not event_type:
    the synthetic corpus has every user in every type — type pairs are
    degenerately Jaccard=1 — while day-active sets genuinely vary.)

    When the union sketch is NOT full (< k hashes), the sketch IS the
    exact hash-universe union, so the divisor drops to the actual
    sketch size (same guard as ``q_kmv_distinct``). The exact Jaccard
    (distinct user_id sets, a user_id equi-join) rides along as the
    accuracy witness: |est − exact| ≤ 0.25 per pair, ~5σ of the
    √(J(1−J)/k) ≈ 0.05 binomial error at k=64, J≈0.8.

    Scale shape: sketches are days × k rows; pair fan-out is
    days² · k — a function of the calendar, independent of event
    volume. The exact twin shuffles on user_id once (the witness, not
    the production path). No global window: ranks partition by pair.
    """
    ev = load_events(spark, sf_dir).selectExpr(
        f"{_DAY} AS day", "user_id", f"(user_id * {_KNUTH}) % {_KMV_M} AS h"
    )
    hashes = ev.select("day", "h").distinct()
    w = Window.partitionBy("day").orderBy("h")
    sketch = (
        hashes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KMV_K)
        .select("day", "h")
        .localCheckpoint()  # days×k rows, read by two pair branches
    )
    days = sketch.select("day").distinct()
    pairs = (
        days.selectExpr("day AS da")
        .join(days.selectExpr("day AS db"), F.col("da") < F.col("db"))
    )
    rows_a = pairs.join(
        sketch.selectExpr("day AS da", "h"), "da"
    ).selectExpr("da", "db", "h", "1 AS in_a", "0 AS in_b")
    rows_b = pairs.join(
        sketch.selectExpr("day AS db", "h"), "db"
    ).selectExpr("da", "db", "h", "0 AS in_a", "1 AS in_b")
    merged = (
        rows_a.unionByName(rows_b)
        .groupBy("da", "db", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w_pair = Window.partitionBy("da", "db").orderBy("h")
    topk = merged.withColumn("rk", F.row_number().over(w_pair)).filter(
        F.col("rk") <= _KMV_K
    )
    est = topk.groupBy("da", "db").agg(
        F.count("*").cast("long").alias("union_sketch_n"),
        F.sum(F.expr("in_a * in_b")).cast("long").alias("both_n"),
    )
    users = ev.select("day", "user_id").distinct().localCheckpoint()
    per_day = users.groupBy("day").agg(
        F.count("*").cast("long").alias("n_users")
    )
    inter = (
        users.selectExpr("day AS da", "user_id")
        .join(users.selectExpr("day AS db", "user_id"), "user_id")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count("*").cast("long").alias("inter_n"))
    )
    exact = (
        pairs.join(per_day.selectExpr("day AS da", "n_users AS na"), "da")
        .join(per_day.selectExpr("day AS db", "n_users AS nb"), "db")
        .join(inter, ["da", "db"], "left")
        .selectExpr(
            "da", "db", "na", "nb",
            "coalesce(inter_n, CAST(0 AS BIGINT)) AS inter_n",
        )
    )
    return (
        est.join(exact, ["da", "db"])
        .selectExpr(
            "da", "db", "union_sketch_n", "both_n", "inter_n",
            "na + nb - inter_n AS union_n",
            "CAST(both_n AS DOUBLE) / CAST(union_sketch_n AS DOUBLE)"
            " AS est_jaccard",
            "CAST(inter_n AS DOUBLE) / CAST(na + nb - inter_n AS DOUBLE)"
            " AS exact_jaccard",
        )
        .selectExpr(
            "da", "db", "union_sketch_n", "both_n", "inter_n", "union_n",
            "est_jaccard", "exact_jaccard",
            "abs(est_jaccard - exact_jaccard) <= 0.25 AS within_tol",
        )
    )


SQL_KMV_JACCARD = f"""
WITH ev AS (
  SELECT {_DUCK_DAY} AS day, user_id, (user_id * {_KNUTH}) % {_KMV_M} AS h
  FROM events
),
hashes AS (SELECT DISTINCT day, h FROM ev),
sketch AS (
  SELECT day, h FROM (
    SELECT day, h, ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rk
    FROM hashes
  ) WHERE rk <= {_KMV_K}
),
days AS (SELECT DISTINCT day FROM sketch),
pairs AS (
  SELECT a.day AS da, b.day AS db
  FROM days a JOIN days b ON a.day < b.day
),
rows_ab AS (
  SELECT p.da, p.db, s.h, 1 AS in_a, 0 AS in_b
  FROM pairs p JOIN sketch s ON s.day = p.da
  UNION ALL
  SELECT p.da, p.db, s.h, 0 AS in_a, 1 AS in_b
  FROM pairs p JOIN sketch s ON s.day = p.db
),
merged AS (
  SELECT da, db, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
  FROM rows_ab GROUP BY 1, 2, 3
),
topk AS (
  SELECT da, db, h, in_a, in_b FROM (
    SELECT da, db, h, in_a, in_b, ROW_NUMBER() OVER (
      PARTITION BY da, db ORDER BY h) AS rk
    FROM merged
  ) WHERE rk <= {_KMV_K}
),
est AS (
  SELECT da, db, CAST(COUNT(*) AS BIGINT) AS union_sketch_n,
    CAST(SUM(in_a * in_b) AS BIGINT) AS both_n
  FROM topk GROUP BY 1, 2
),
users AS (SELECT DISTINCT day, user_id FROM ev),
per_day AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_users FROM users GROUP BY 1
),
inter AS (
  SELECT a.day AS da, b.day AS db, CAST(COUNT(*) AS BIGINT) AS inter_n
  FROM users a JOIN users b ON a.user_id = b.user_id AND a.day < b.day
  GROUP BY 1, 2
),
exact AS (
  SELECT p.da, p.db, na.n_users AS na, nb.n_users AS nb,
    COALESCE(i.inter_n, CAST(0 AS BIGINT)) AS inter_n
  FROM pairs p
  JOIN per_day na ON na.day = p.da
  JOIN per_day nb ON nb.day = p.db
  LEFT JOIN inter i ON i.da = p.da AND i.db = p.db
)
SELECT da, db, union_sketch_n, both_n, inter_n, union_n,
  est_jaccard, exact_jaccard,
  abs(est_jaccard - exact_jaccard) <= 0.25 AS within_tol
FROM (
  SELECT e.da, e.db, e.union_sketch_n, e.both_n, x.inter_n,
    x.na + x.nb - x.inter_n AS union_n,
    CAST(e.both_n AS DOUBLE) / CAST(e.union_sketch_n AS DOUBLE)
      AS est_jaccard,
    CAST(x.inter_n AS DOUBLE) / CAST(x.na + x.nb - x.inter_n AS DOUBLE)
      AS exact_jaccard
  FROM est e JOIN exact x ON e.da = x.da AND e.db = x.db
)
"""


def register_all() -> None:
    register("sketch_bitmap_rollup", q_bitmap_rollup, SQL_BITMAP_ROLLUP)
    register("sketch_kmv_distinct", q_kmv_distinct, SQL_KMV_DISTINCT)
    register("sketch_kmv_jaccard", q_kmv_jaccard, SQL_KMV_JACCARD)
