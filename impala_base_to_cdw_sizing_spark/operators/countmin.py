"""Count-min sketch over corpus 3-gram shingles + heavy-hitter verification.

The frequency sketch next to ``rel_hll_rollup`` (distinct count):
count-min answers "how often does X occur?" from a fixed d×w counter
table, however large the stream. The build is one distributed shape:
each token occurrence explodes to d (row, col) cells, one ``groupBy``
with map-side combine collapses them — the sketch is d·w rows total
(4·1024 here),
broadcastable, and mergeable across partitions/days by cell-wise
addition (sums commute — unlike exact top-k state).

Items are word 3-grams, not raw tokens — the fixture vocabulary is 31
tokens (collision-free at any useful w) but ~16k distinct shingles, so
the 4×1024 sketch shows real collision behavior at fixture scale.

The query reports the corpus's top heavy hitters with their EXACT count
next to the sketch ESTIMATE and the overestimate delta. Both engines
build the identical sketch (portable charfold hash → same cells), so
exact values, estimates, and deltas all hash-match — the one-sided error
guarantee (estimate ≥ truth, excess bounded by collisions ≈ N/w per
row) is pinned in tests as a hard invariant, not a tolerance flag.

Scale: one token-explode shuffle for the sketch (4× rows in, d·w rows
out via partial aggregation), one for the exact candidates; the
estimate join broadcasts the 4096-row sketch. At 100 TB drop the exact
candidate pass and probe the sketch directly — the point of the
structure — or keep it on a sampled slice as the accuracy monitor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .hashes import UHASH_COEFFS, uhash_expr
from ..sources.files import ROWS_PER_TASK_HEAVY, read_input
from .queries_ext import register
from .text import (
    DUCK_SHINGLES,
    DUCK_TOKENS,
    SPARK_SHINGLES,
    SPARK_TOKENS,
    duck_charfold,
    spark_charfold,
)

_CM_W = 1024  # columns per row
# row hashes from the shared audited family (hashes.py)
_CM_ROWS = UHASH_COEFFS
_TOP_K = 20


def _cells(h: str, dialect: str) -> str:
    cells = ", ".join(
        (
            f"struct({r} AS row_id,"
            f" CAST({uhash_expr(h, a, b, _CM_W)} AS BIGINT) AS col_id)"
            if dialect == "spark"
            else
            f"{{'row_id': {r},"
            f" 'col_id': CAST({uhash_expr(h, a, b, _CM_W)} AS BIGINT)}}"
        )
        for r, (a, b) in enumerate(_CM_ROWS)
    )
    return f"array({cells})" if dialect == "spark" else f"[{cells}]"


def q_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        read_input(spark, sf_dir, "documents", ROWS_PER_TASK_HEAVY)
        .selectExpr(f"{SPARK_TOKENS} AS tokens")
        .selectExpr(f"explode({SPARK_SHINGLES}) AS token")
        .withColumn("h", F.expr(spark_charfold("token")))
    ).localCheckpoint(eager=True)  # read twice (sketch build + exact
    # candidates): without materialization each pass re-explodes and
    # re-hashes every shingle. localCheckpoint, not cache(): the blocks
    # are released when the query's frames are garbage-collected, so a
    # long-lived session running the whole registry stays flat without
    # a manual unpersist it has no hook to call.
    sketch = (
        toks.selectExpr(f"explode({_cells('h', 'spark')}) AS cell")
        .groupBy("cell.row_id", "cell.col_id")
        .agg(F.count("*").alias("counter"))
    )
    top = (
        toks.groupBy("token", "h")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("token").asc())
        .limit(_TOP_K)
    )
    probes = top.selectExpr(
        "token", "exact_n", f"explode({_cells('h', 'spark')}) AS cell"
    ).select("token", "exact_n", "cell.row_id", "cell.col_id")
    return (
        probes.join(F.broadcast(sketch), ["row_id", "col_id"])
        .groupBy("token", "exact_n")
        .agg(F.min("counter").alias("est_n"))
        .selectExpr(
            "token", "exact_n", "est_n", "est_n - exact_n AS overestimate"
        )
    )


SQL_COUNTMIN = f"""
WITH toks AS (
  SELECT token, {duck_charfold('token')} AS h
  FROM (SELECT unnest({DUCK_SHINGLES}) AS token
        FROM (SELECT {DUCK_TOKENS} AS tokens FROM documents))
),
cells AS (
  SELECT unnest({_cells('h', 'duck')}) AS cell FROM toks
),
sketch AS (
  SELECT cell.row_id AS row_id, cell.col_id AS col_id, COUNT(*) AS counter
  FROM cells GROUP BY 1, 2
),
top AS (
  SELECT token, h, COUNT(*) AS exact_n
  FROM toks GROUP BY 1, 2
  ORDER BY exact_n DESC, token ASC LIMIT {_TOP_K}
),
probes AS (
  SELECT token, exact_n, cell.row_id AS row_id, cell.col_id AS col_id
  FROM (SELECT token, exact_n, unnest({_cells('h', 'duck')}) AS cell FROM top)
)
SELECT token, exact_n, CAST(MIN(counter) AS BIGINT) AS est_n,
  CAST(MIN(counter) - exact_n AS BIGINT) AS overestimate
FROM probes JOIN sketch USING (row_id, col_id)
GROUP BY token, exact_n
"""


# --- sharded heavy-hitters global view (batch twin of streaming Space-Saving) -----
#
# streaming/heavyhitters.py keeps one capacity-`cap` Space-Saving
# summary per item shard. Shards partition the item space, so the
# union of the shard summaries is the global summary, with the honest
# combined guarantee (no false negatives above max_g N_g / cap). This
# is the EXACT-batch form of that merged view over the events table:
# items = user_id, shards = user_id %
# _HH_SHARDS (the portable shard router), per-shard "summary" = the
# top-`cap` items by exact count (what a capacity-`cap` tracker
# guarantees to hold: at most cap items can exceed N_g/cap, since
# cap·(N_g/cap) = N_g), merged into the global top-k with the bound as
# a column. Two honesty caveats (r6 ADVICE): the shard
# router here is `user_id % _HH_SHARDS` while the streaming operator routes
# by `hash(item) % n_groups` — both partition the item space, so the
# union-is-global argument is identical, but the correspondence is
# structural (same shape, same bound), not row-for-row; and the output
# keeps every `above_shard_bound` row IN ADDITION to the top-k, so the
# no-false-negative guarantee survives the top-k truncation (a bare
# `rank <= k` cut could drop a true heavy hitter when k is small).

_HH_SHARDS = 4
_HH_CAP = 8
_HH_TOPK = 10


def q_hh_global_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..sources.files import load_events

    counts = (
        load_events(spark, sf_dir)
        .selectExpr("user_id AS item", f"user_id % {_HH_SHARDS} AS grp")
        .groupBy("grp", "item")
        .agg(F.count("*").cast("long").alias("exact_n"))
    )
    wg = Window.partitionBy("grp")
    wshard = Window.partitionBy("grp").orderBy(
        F.col("exact_n").desc(), F.col("item").asc()
    )
    summary = (
        counts.withColumn("n_g", F.sum("exact_n").over(wg).cast("long"))
        .withColumn("shard_rank", F.row_number().over(wshard))
        .filter(F.col("shard_rank") <= _HH_CAP)
    )
    # bounded input: at most _HH_SHARDS * _HH_CAP rows survive the
    # per-shard cut — the same bound the streaming merged view has. The
    # eager localCheckpoint materializes those ≤32 rows once (the
    # sketch_countmin_topk precedent), so neither downstream read
    # recomputes the events aggregation; the global rank then comes
    # from a triangular self-join over the checkpoint (≤32² pairs)
    # instead of a partition-less row_number window — zero global
    # windows anywhere in the registry's primary plans
    # (tests/test_segmented_rank.py enforces it).
    summary = summary.localCheckpoint()
    bound = summary.groupBy().agg(
        (F.max("n_g") / F.lit(_HH_CAP)).alias("guarantee_bound")
    )
    s1, s2 = summary.alias("s1"), summary.alias("s2")
    strictly_before = (F.col("s2.exact_n") > F.col("s1.exact_n")) | (
        (F.col("s2.exact_n") == F.col("s1.exact_n"))
        & (F.col("s2.item") < F.col("s1.item"))
    )
    ranked = (
        s1.join(F.broadcast(s2), strictly_before, "left")
        .groupBy(
            F.col("s1.grp").alias("grp"),
            F.col("s1.item").alias("item"),
            F.col("s1.exact_n").alias("exact_n"),
            F.col("s1.n_g").alias("n_g"),
        )
        .agg((F.count(F.col("s2.item")) + 1).cast("long").alias("rank"))
    )
    return (
        ranked.filter(
            (F.col("rank") <= _HH_TOPK)
            | (F.col("exact_n") > F.col("n_g") / F.lit(_HH_CAP))
        )
        .crossJoin(F.broadcast(bound))
        .selectExpr(
            "rank", "item", "grp", "exact_n", "n_g", "guarantee_bound",
            f"exact_n > n_g / {_HH_CAP} AS above_shard_bound",
        )
    )


SQL_HH_GLOBAL = f"""
WITH counts AS (
  SELECT user_id % {_HH_SHARDS} AS grp, user_id AS item,
    CAST(COUNT(*) AS BIGINT) AS exact_n
  FROM events GROUP BY 1, 2
),
summary AS (
  SELECT grp, item, exact_n, n_g FROM (
    SELECT grp, item, exact_n,
      CAST(SUM(exact_n) OVER (PARTITION BY grp) AS BIGINT) AS n_g,
      ROW_NUMBER() OVER (
        PARTITION BY grp ORDER BY exact_n DESC, item ASC) AS shard_rank
    FROM counts
  ) WHERE shard_rank <= {_HH_CAP}
),
bound AS (
  SELECT MAX(n_g) / CAST({_HH_CAP} AS DOUBLE) AS guarantee_bound FROM summary
)
SELECT rank, item, grp, exact_n, n_g, guarantee_bound,
  exact_n > n_g / CAST({_HH_CAP} AS DOUBLE) AS above_shard_bound
FROM (
  SELECT grp, item, exact_n, n_g, ROW_NUMBER() OVER (
    ORDER BY exact_n DESC, item ASC) AS rank
  FROM summary
), bound
WHERE rank <= {_HH_TOPK} OR exact_n > n_g / CAST({_HH_CAP} AS DOUBLE)
"""


def register_all() -> None:
    register("sketch_countmin_topk", q_countmin_heavy_hitters, SQL_COUNTMIN)
    register("sketch_heavyhitters_global", q_hh_global_batch, SQL_HH_GLOBAL)
