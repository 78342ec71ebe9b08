"""Link-graph centrality over the near-duplicate graph — the PageRank-
style quality signal web-crawl curation pipelines attach to documents
(connectivity-based importance, used alongside content quality scores
when ranking a crawl frontier or weighting training data).

``graph_pagerank_conserving``: 3 unrolled power iterations of damped
PageRank over the symmetric MinHash near-dup graph (the same
est_jaccard ≥ 0.5 edge cut ``dedup_components`` clusters). All
arithmetic is INTEGER from end to end, so both engines agree
bit-for-bit with no float-summation order dependence:

- ranks live in nano-units, ``r0 = 10^9 div N``;
- each edge u→v contributes ``(85 * r_u) div (100 * outdeg_u)``
  (damping 0.85 folded into one exact truncating division);
- ``r' = (15 * 10^9) div (100 * N) + Σ contributions`` — a bigint sum,
  order-independent.

A dangling-mass redistribution term (the rank sum, observed on each
round's checkpoint job) keeps the rank sum EXACTLY 10⁹ nano-units
after every round, with a pinned remainder policy. Fixed-horizon iterations are the
intended shape: curation wants a stable score, not a fixpoint
certificate — 3 damped rounds already separate hubs from leaves on
near-dup graphs, and the oracle replays the identical unrolled chain
(pattern: ``kmeans_clusters``).

Scale: per iteration one join (ranks × edges, both keyed on doc) + one
sum aggregation — the classic distributed PageRank step. Rounds are a
constant, not diameter-bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fixpoint import checkpoint, iterate
from .queries_ext import register
from .text import _minhash_sql, _near_dup_edges, q_dedup_minhash
from ..sources.files import read_input

_NANO = 1_000_000_000
_N_ITERS = 3
_DAMP_NUM, _DAMP_DEN = 85, 100  # 0.85 as an exact ratio


def pagerank_ranks_conserving(
    edges: DataFrame, docs: DataFrame, n_iters: int = _N_ITERS
) -> DataFrame:
    """Exact-integer damped power iteration over ``edges`` (directed
    (doc_a → doc_b); pass both directions for undirected graphs) and
    ``docs`` (one ``doc_id`` per node) → (doc_id, rank_nano, outdeg).
    Ties in rank are real ties (equal integers), so the consumer's
    ordering is deterministic without a float epsilon. The rank sum is
    EXACTLY 10⁹ nano-units after every round. Per round, the leaked
    mass L = 10⁹ − Σ(base + in_sum) — dangling-node damped mass plus
    every truncating-division remainder — is observed on the round's
    checkpoint job and redistributed uniformly (``L div N`` to every
    node); the final sub-N remainder (``L mod N`` < N nano-units, i.e.
    < N/10⁹ of total mass) is parked on the lowest doc_id. That
    remainder policy is pinned — deterministic, integer-exact, and
    mirrored by the oracle — rather than hidden in float round-off.
    The init is the same spread of the whole unit over all-zero ranks
    (10⁹ div N each, remainder to the lowest id)."""
    edges, nodes, n_edges, seen = _graph(
        edges, docs, F.count("*").alias("n"), F.min("doc_id").alias("min_doc")
    )
    n_docs, min_doc = seen["n"], seen["min_doc"]
    if n_docs == 0:
        return nodes.selectExpr("doc_id", "CAST(0 AS BIGINT) AS rank_nano", "outdeg")
    base = (15 * _NANO) // (_DAMP_DEN * n_docs)

    def spread(pre: DataFrame, seen: list) -> DataFrame:
        # the leak is never negative (Σpre ≤ 10⁹), so Python's // and %
        # agree with SQL div and %
        leak = _NANO - (seen[-1]["mass"] if seen else 0)
        return pre.selectExpr(
            "doc_id",
            f"CAST(pre + {leak // n_docs} + CASE WHEN doc_id = {min_doc}"
            f" THEN {leak % n_docs} ELSE 0 END AS BIGINT) AS rank_nano",
            "outdeg",
        )

    pre, seen = iterate(
        nodes.selectExpr("doc_id", "CAST(0 AS BIGINT) AS pre", "outdeg"),
        lambda pre, seen: _in_sums(edges, spread(pre, seen)).selectExpr(
            "doc_id",
            f"CAST({base} + coalesce(in_sum, 0) AS BIGINT) AS pre",
            "outdeg",
        ),
        max_rounds=n_iters,
        rows=n_edges,
        observe=(F.sum("pre").alias("mass"),),
    )
    return spread(pre, seen)


def _graph(edges: DataFrame, docs: DataFrame, *metrics):
    """Checkpoint ``edges``, observing its row count (the gate size),
    and ``docs`` with each doc's ``outdeg``, observing ``metrics``.
    Returns (edges, nodes, edge count, observed metrics)."""
    edges, e_seen = checkpoint(edges, F.count("*").alias("n"))
    outdeg = edges.groupBy("doc_a").agg(F.count("*").alias("outdeg"))
    nodes, seen = checkpoint(
        docs.join(outdeg, docs.doc_id == outdeg.doc_a, "left")
        .drop("doc_a")
        .withColumn("outdeg", F.coalesce("outdeg", F.lit(0)).cast("long")),
        *metrics,
    )
    return edges, nodes, e_seen["n"], seen


def _in_sums(edges: DataFrame, ranks: DataFrame) -> DataFrame:
    """``ranks`` (doc_id, rank_nano, outdeg, ...) with each doc's damped
    in-edge sum ``in_sum`` (NULL without in-edges): every edge u→v
    carries ``(85 * r_u) div (100 * outdeg_u)``."""
    contrib = (
        edges.join(ranks, edges.doc_a == ranks.doc_id)
        .selectExpr(
            "doc_b AS doc_id",
            f"({_DAMP_NUM} * rank_nano) div ({_DAMP_DEN} * outdeg) AS c",
        )
        .groupBy("doc_id")
        .agg(F.sum("c").alias("in_sum"))
    )
    return ranks.join(contrib, "doc_id", "left")


def q_graph_pagerank_conserving(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _near_dup_edges(spark, sf_dir)
    docs = read_input(spark, sf_dir, "documents").select("doc_id")
    return pagerank_ranks_conserving(edges, docs)


def _sql_head() -> str:
    pairs_sql = _minhash_sql().strip()
    return f"""
WITH allpairs AS MATERIALIZED ({pairs_sql}),
pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM allpairs WHERE est_jaccard >= 0.5),
edges AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs
 UNION ALL SELECT doc_b, doc_a FROM pairs),
nodes AS MATERIALIZED (
  SELECT d.doc_id, CAST(COALESCE(o.outdeg, 0) AS BIGINT) AS outdeg
  FROM documents d LEFT JOIN (
    SELECT doc_a, COUNT(*) AS outdeg FROM edges GROUP BY 1
  ) o ON d.doc_id = o.doc_a
),
consts AS MATERIALIZED (
  SELECT COUNT(*) AS n, MIN(doc_id) AS min_doc,
    CAST({_NANO} AS BIGINT) // COUNT(*) AS r0,
    CAST({_NANO} AS BIGINT) % COUNT(*) AS r0_rem,
    CAST({15 * _NANO} AS BIGINT) // ({_DAMP_DEN} * COUNT(*)) AS base
  FROM nodes
)"""


def _sql_contrib(prev: str) -> str:
    return f"""(
    SELECT e.doc_b AS doc_id,
      CAST(SUM(({_DAMP_NUM} * r.rank_nano) // ({_DAMP_DEN} * src.outdeg))
        AS BIGINT) AS in_sum
    FROM edges e
    JOIN {prev} r ON e.doc_a = r.doc_id
    JOIN nodes src ON e.doc_a = src.doc_id
    GROUP BY 1
  )"""


def _sql_graph_pagerank_conserving() -> str:
    head = (
        _sql_head()
        + """,
rank0 AS MATERIALIZED (
  SELECT doc_id, CAST((SELECT r0 FROM consts)
    + CASE WHEN doc_id = (SELECT min_doc FROM consts)
      THEN (SELECT r0_rem FROM consts) ELSE 0 END AS BIGINT) AS rank_nano
  FROM nodes
)"""
    )
    its = []
    prev = "rank0"
    for i in range(1, _N_ITERS + 1):
        its.append(f"""
pre{i} AS MATERIALIZED (
  SELECT n.doc_id,
    CAST((SELECT base FROM consts) + COALESCE(s.in_sum, 0) AS BIGINT) AS pre
  FROM nodes n LEFT JOIN {_sql_contrib(prev)} s ON n.doc_id = s.doc_id
),
leak{i} AS (SELECT CAST({_NANO} - SUM(pre) AS BIGINT) AS leak FROM pre{i}),
rank{i} AS MATERIALIZED (
  SELECT doc_id, CAST(pre
    + (SELECT leak FROM leak{i}) // (SELECT n FROM consts)
    + CASE WHEN doc_id = (SELECT min_doc FROM consts)
      THEN (SELECT leak FROM leak{i}) % (SELECT n FROM consts) ELSE 0 END
    AS BIGINT) AS rank_nano
  FROM pre{i}
)""")
        prev = f"rank{i}"
    return (
        head + "," + ",".join(its)
        + f"""
SELECT n.doc_id, r.rank_nano, n.outdeg
FROM nodes n JOIN {prev} r ON n.doc_id = r.doc_id
"""
    )


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over the
    near-dup graph — the cohesion signal that separates a true
    duplicate CLIQUE (template family, coefficient → 1) from a hub
    page that merely touches many documents (star, coefficient → 0);
    curation treats the two very differently.

    Triangles enumerate on the canonical a<b<c orientation: join the
    (a<b) pair list with itself on the middle node, close with a third
    equi-join — every triangle found exactly once, no dedup. At 100 TB
    the standard hardening is degree-orientation (point each edge at
    the higher-degree endpoint) which bounds the middle-node fan-out
    by sqrt(m); the near-dup edge list is already band-capped upstream
    so the canonical orientation suffices here. Coefficient =
    2*tri/(deg*(deg-1)) quantized to micro-units (one double divide of
    exact integers — deterministic)."""
    pairs = (
        q_dedup_minhash(spark, sf_dir)
        .filter(F.col("est_jaccard") >= 0.5)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)  # read 4x (wedge join both sides,
        # closing edge, degrees) — materialize the banded MinHash
        # pipeline once; eager so the blocks exist before reuse
    )
    wedges = (
        pairs.selectExpr("doc_a AS a", "doc_b AS b")
        .join(pairs.selectExpr("doc_a AS b", "doc_b AS c"), "b")
        .join(pairs.selectExpr("doc_a AS a", "doc_b AS c"), ["a", "c"])
    )
    tri = (
        wedges.selectExpr("explode(array(a, b, c)) AS doc_id")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    deg = (
        pairs.selectExpr("doc_a AS doc_id")
        .union(pairs.selectExpr("doc_b AS doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    return deg.join(tri, "doc_id", "left").selectExpr(
        "doc_id", "degree",
        "coalesce(triangles, 0) AS triangles",
        "CASE WHEN degree < 2 THEN 0 ELSE CAST(floor("
        " 2000000.0 * coalesce(triangles, 0) / (degree * (degree - 1))"
        " + 0.5) AS BIGINT) END AS clustcoef_micro",
    )


def _sql_graph_triangles() -> str:
    pairs_sql = _minhash_sql().strip()
    return f"""
WITH allpairs AS MATERIALIZED ({pairs_sql}),
pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM allpairs WHERE est_jaccard >= 0.5
),
wedges AS (
  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e1.doc_b = e2.doc_a
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
),
tri AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
    SELECT unnest([a, b, c]) AS doc_id FROM wedges
  ) GROUP BY 1
),
deg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT doc_a AS doc_id FROM pairs
    UNION ALL SELECT doc_b FROM pairs
  ) GROUP BY 1
)
SELECT d.doc_id, d.degree, coalesce(t.triangles, 0) AS triangles,
  CASE WHEN d.degree < 2 THEN 0 ELSE CAST(floor(
    2000000.0 * coalesce(t.triangles, 0) / (d.degree * (d.degree - 1))
    + 0.5) AS BIGINT) END AS clustcoef_micro
FROM deg d LEFT JOIN tri t ON d.doc_id = t.doc_id
"""


def ppr_ranks(
    edges: DataFrame, docs: DataFrame, n_iters: int = _N_ITERS
) -> DataFrame:
    """Personalized PageRank: same exact-integer damped power iteration
    as :func:`pagerank_ranks_conserving`, but the teleport vector is
    concentrated on a SEED set (``docs`` must carry ``is_seed`` 0/1) —
    "importance relative to these documents", the seeded-relevance form
    crawl curation uses to expand a trusted set. Init puts the full 10⁹
    nano-units uniformly on seeds (non-seeds start at 0); each round's
    teleport base ``(15·10⁹) div (100·|S|)`` lands only on seeds.
    Everything else — truncating-division contributions, order-free
    BIGINT sums — is shared arithmetic; dangling mass is not
    redistributed."""
    edges, nodes, n_edges, seen = _graph(
        edges, docs, F.expr("count_if(is_seed = 1)").alias("seeds")
    )
    n_seeds = seen["seeds"]
    if n_seeds == 0:
        return nodes.selectExpr(
            "doc_id", "CAST(0 AS BIGINT) AS rank_nano", "outdeg", "is_seed"
        )
    base = (15 * _NANO) // (_DAMP_DEN * n_seeds)
    ranks, _ = iterate(
        nodes.selectExpr(
            "doc_id",
            f"CAST(CASE WHEN is_seed = 1 THEN {_NANO // n_seeds}"
            " ELSE 0 END AS BIGINT) AS rank_nano",
            "outdeg",
            "is_seed",
        ),
        lambda ranks, seen: _in_sums(edges, ranks).selectExpr(
            "doc_id",
            f"CAST(CASE WHEN is_seed = 1 THEN {base} ELSE 0 END"
            " + coalesce(in_sum, 0) AS BIGINT) AS rank_nano",
            "outdeg",
            "is_seed",
        ),
        max_rounds=n_iters,
        rows=n_edges,
    )
    return ranks


_PPR_SEED_LANG = "de"


def q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _near_dup_edges(spark, sf_dir)
    docs = read_input(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        f"CASE WHEN lang = '{_PPR_SEED_LANG}' THEN 1 ELSE 0 END AS is_seed",
    )
    return ppr_ranks(edges, docs)


def _sql_graph_ppr() -> str:
    pairs_sql = _minhash_sql().strip()
    head = f"""
WITH allpairs AS MATERIALIZED ({pairs_sql}),
pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM allpairs WHERE est_jaccard >= 0.5),
edges AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs
 UNION ALL SELECT doc_b, doc_a FROM pairs),
nodes AS MATERIALIZED (
  SELECT d.doc_id,
    CASE WHEN d.lang = '{_PPR_SEED_LANG}' THEN 1 ELSE 0 END AS is_seed,
    CAST(COALESCE(o.outdeg, 0) AS BIGINT) AS outdeg
  FROM documents d LEFT JOIN (
    SELECT doc_a, COUNT(*) AS outdeg FROM edges GROUP BY 1
  ) o ON d.doc_id = o.doc_a
),
consts AS MATERIALIZED (
  SELECT CAST({_NANO} AS BIGINT) // COUNT(*) AS r0,
    CAST({15 * _NANO} AS BIGINT) // ({_DAMP_DEN} * COUNT(*)) AS base
  FROM nodes WHERE is_seed = 1
),
rank0 AS MATERIALIZED (
  SELECT doc_id, CAST(CASE WHEN is_seed = 1
    THEN (SELECT r0 FROM consts) ELSE 0 END AS BIGINT) AS rank_nano
  FROM nodes
)"""
    its = []
    prev = "rank0"
    for i in range(1, _N_ITERS + 1):
        its.append(f"""
rank{i} AS MATERIALIZED (
  SELECT n.doc_id,
    CAST(CASE WHEN n.is_seed = 1 THEN (SELECT base FROM consts) ELSE 0 END
      + COALESCE(s.in_sum, 0) AS BIGINT) AS rank_nano
  FROM nodes n LEFT JOIN {_sql_contrib(prev)} s ON n.doc_id = s.doc_id
)""")
        prev = f"rank{i}"
    return (
        head + "," + ",".join(its)
        + f"""
SELECT n.doc_id, r.rank_nano, n.outdeg, n.is_seed
FROM nodes n JOIN {prev} r ON n.doc_id = r.doc_id
"""
    )


def register_all() -> None:
    register("graph_triangles", q_graph_triangles, _sql_graph_triangles())
    register(
        "graph_pagerank_conserving",
        q_graph_pagerank_conserving,
        _sql_graph_pagerank_conserving(),
    )
    register("graph_ppr", q_graph_ppr, _sql_graph_ppr())
