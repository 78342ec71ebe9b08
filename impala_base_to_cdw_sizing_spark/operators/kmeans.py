"""Iterative algorithm coverage: Lloyd k-means over the embeddings table,
expressed as a fixed number of unrolled DataFrame iterations.

Each iteration is (1) an assignment join — every vector to its nearest
centroid by L2², broadcast k rows — and (2) a centroid recompute —
posexplode + integer nano-unit sums per (cluster, dim). Both steps are
deterministic (argmin ties break on cluster id; sums are exact integers),
so even this *iterative* algorithm is DuckDB-oracle-checkable with the
same unrolling. Spark's driver loop only grows the plan; no data ever
reaches the driver.

Scale: per iteration, one broadcast join (k×dim doubles — tiny at any k
that fits a sane model) + one shuffle keyed by (cluster, dim) with
map-side partial aggregation. The classic distributed k-means plan;
``ml.clustering.KMeans`` produces the same shape with sampling-based
init, which is deliberately replaced by deterministic first-k init here
so the oracle can replay it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries_ext import register
from .similarity import DIM, DUCK_DOT, DUCK_EMB, N_QUERIES, SPARK_DOT
from ..memo import MEMO
from ..sources.files import ROWS_PER_TASK_HEAVY, read_input

K = 8
N_ITERS = 2
_NANO = 1_000_000_000.0


def _emb_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_input(spark, sf_dir, "embeddings", ROWS_PER_TASK_HEAVY)
        .selectExpr(
            "vec_id", "label",
            "transform(embedding, x -> CAST(x AS DOUBLE)) AS v",
        )
        .withColumn("norm2", F.expr(SPARK_DOT.format(a="v", b="v")))
    )


def _assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """vectors × broadcast centroids → nearest cluster per vector.

    Two scale choices, both value-preserving:
    - ``cv·cv`` is evaluated once per centroid BEFORE the cross join
      (k rows), not once per (vector, centroid) pair (n·k rows) — the
      dot is an interpreted higher-order function, so per-pair
      re-evaluation dominated the assign cost;
    - the argmin is a ``min(struct(dist2, cluster, …))`` aggregation
      (lexicographic struct ordering = the (dist2 asc, cluster asc)
      tie-break), which partial-aggregates map-side to one row per
      vector instead of shuffling + sorting all n·k scored rows the
      row_number window needed.
    """
    cents = F.broadcast(
        centroids.withColumn("c_norm2", F.expr(SPARK_DOT.format(a="cv", b="cv")))
    )
    dists = emb.crossJoin(cents).withColumn(
        "dist2",
        F.col("norm2")
        + F.col("c_norm2")
        - 2 * F.expr(SPARK_DOT.format(a="v", b="cv")),
    )
    return (
        dists.groupBy("vec_id")
        .agg(
            F.min(
                F.struct("dist2", "cluster", "label", "v", "norm2")
            ).alias("best")
        )
        .select(
            "vec_id",
            F.col("best.label").alias("label"),
            F.col("best.v").alias("v"),
            F.col("best.norm2").alias("norm2"),
            F.col("best.cluster").alias("cluster"),
        )
    )


def _recompute(assigned: DataFrame) -> DataFrame:
    """new centroids: per-cluster per-dim mean via exact nano-unit sums,
    reassembled into an ordered array column."""
    exploded = assigned.select(
        "cluster", F.posexplode("v").alias("pos", "x")
    ).withColumn("x_nano", F.floor(F.col("x") * _NANO + 0.5).cast("long"))
    means = (
        exploded.groupBy("cluster", "pos")
        .agg(
            F.sum(F.col("x_nano").cast("decimal(38,0)")).alias("s"),
            F.count("*").alias("n"),
        )
        .selectExpr(
            "cluster", "pos",
            f"CAST(s AS DOUBLE) / {_NANO} / n AS m",
        )
    )
    return means.groupBy("cluster").agg(
        F.expr("transform(array_sort(collect_list(struct(pos, m))), p -> p.m)").alias("cv")
    )


# Trained-centroid sharing (r15): one training per (application, key).
# The unrolled 2-iteration Lloyd plan is deep, and before r15 every
# consumer re-optimized AND re-executed the whole training chain
# (kmeans_clusters, sim_ivf_trained, dedup_semantic and dedup_hybrid
# each trained from scratch). Memo owner "centroids" in the shared
# registry (memo.py): in-process only, keyed per SparkContext (the
# localCheckpoint's lifetime), cleared by bench.py between passes and
# isolated reps, billed to the family's first toucher in canonical
# bench order. Returning the SAME checkpointed frame also keeps
# _sem_assigned's plan-keyed cache shared between dedup_semantic and
# dedup_hybrid (tests/test_cache_hygiene.py pins that sharing).


def trained_centroids(
    emb: DataFrame,
    k_frame: DataFrame | None = None,
    train_cap: int | None = None,
    memo_key: tuple | None = None,
) -> DataFrame:
    """Centroids after ``N_ITERS`` unrolled Lloyd iterations from the
    deterministic first-``K`` init — the trained coarse quantizer the IVF
    search consumes.

    ``k_frame``: optional 1-row ``(k BIGINT)`` frame supplying a
    data-dependent cell count (SemDeDup scales k with corpus size;
    ceil(sqrt(n)) keeps expected cell size ~sqrt(n)). Supplied as a
    broadcast scalar so the init filter stays declarative — no driver
    action.

    ``train_cap``: optionally TRAIN on the deterministic prefix sample
    ``vec_id < train_cap`` only (the r12 scale bound: each Lloyd round
    is an n·k dot kernel, so full-corpus training with k = sqrt(n) is
    O(iters · n^1.5) — the measured sf3→sf10 ramp of the semantic-dedup
    family. Web-scale quantizers train on a bounded sample; the FINAL
    assignment over the full corpus is unchanged). The init set
    ``vec_id < k`` is a subset of any cap ≥ k, and the oracle twin
    applies the identical filter, so parity is unconditional; at every
    oracle-checked sf (n ≤ 60k < cap) the sample IS the corpus and
    results are bit-identical to the uncapped form.

    The returned frame is ``localCheckpoint``-ed (r15, guide §5/§3.3
    "materialising an intermediate truncates the plan"): training runs
    ONCE, eagerly, and every consumer's plan starts from a shallow
    k-row ``Scan ExistingRDD`` instead of re-optimizing (and, without a
    plan-keyed cache hit, re-executing) the unrolled Lloyd chain.
    ``memo_key`` additionally shares the checkpointed result across the
    family's queries within one pass (memo owner ``"centroids"``)."""
    if memo_key is not None:
        # N_ITERS is part of the trained result's identity (tests
        # monkeypatch it to compare iteration counts)
        memo_key = (
            "centroids",
            emb.sparkSession.sparkContext.applicationId,
            N_ITERS,
            *memo_key,
        )
        hit = MEMO.get(memo_key)
        if hit is not None:
            return hit
    if k_frame is None:
        init = emb.filter(F.col("vec_id") < K)
    else:
        init = (
            emb.crossJoin(F.broadcast(k_frame))
            .filter(F.col("vec_id") < F.col("k"))
            .drop("k")
        )
    train = (
        emb if train_cap is None else emb.filter(F.col("vec_id") < train_cap)
    )
    centroids = init.selectExpr("vec_id AS cluster", "v AS cv")
    for _ in range(N_ITERS):
        centroids = _recompute(_assign(train, centroids))
    centroids = centroids.localCheckpoint(eager=True)
    if memo_key is not None:
        MEMO[memo_key] = centroids
    return centroids


def q_kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means after ``N_ITERS`` unrolled Lloyd iterations: cluster sizes
    and exact per-cluster inertia (micro-quantized for oracle parity)."""
    emb = _emb_norm(spark, sf_dir)
    centroids = trained_centroids(emb, memo_key=(sf_dir, "k8"))
    final = _assign(emb, centroids)
    with_dist = final.join(centroids, "cluster").withColumn(
        "dist2",
        F.col("norm2")
        + F.expr(SPARK_DOT.format(a="cv", b="cv"))
        - 2 * F.expr(SPARK_DOT.format(a="v", b="cv")),
    )
    return with_dist.groupBy("cluster").agg(
        F.count("*").alias("n_points"),
        F.sum(F.floor(F.col("dist2") * 1_000_000.0 + 0.5).cast("long")).alias(
            "inertia_micro"
        ),
    )


def _iteration_sql(prev: str, i: int, src: str = "normed") -> str:
    """One unrolled Lloyd iteration as two CTEs over ``prev`` centroids;
    ``src`` names the training-vector CTE (``train`` when a prefix-sample
    cap is active, the full ``normed`` otherwise)."""
    return f"""
assign{i} AS (
  SELECT vec_id, v, norm2, cluster FROM (
    SELECT e.vec_id, e.v, e.norm2, c.cluster,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        e.norm2 + {DUCK_DOT.format(a='c.cv', b='c.cv')}
          - 2 * {DUCK_DOT.format(a='e.v', b='c.cv')} ASC, c.cluster ASC) AS r
    FROM {src} e, {prev} c
  ) WHERE r = 1
),
cent{i} AS (
  SELECT cluster, list(m ORDER BY pos) AS cv
  FROM (
    SELECT cluster, pos, CAST(SUM(CAST(x_nano AS DECIMAL(38,0))) AS DOUBLE)
      / {_NANO} / COUNT(*) AS m
    FROM (
      SELECT a.cluster, CAST(i - 1 AS INTEGER) AS pos,
        CAST(floor(a.v[i] * {_NANO} + 0.5) AS BIGINT) AS x_nano
      FROM assign{i} a, (SELECT unnest(range(1, {DIM + 1})) AS i)
    ) GROUP BY cluster, pos
  ) GROUP BY cluster
)"""


def _cte_chain(
    dynamic_k: bool = False,
    k_cap: int | None = None,
    train_cap: int | None = None,
) -> tuple[list[str], str]:
    """The shared unrolled-Lloyd CTE chain ending in ``final`` (every
    vector assigned to its trained cluster); returns (parts, last_cent).

    ``dynamic_k``: use k = ceil(sqrt(n)) cells instead of the fixed
    ``K`` — the oracle twin of :func:`trained_centroids`'s ``k_frame``
    path (ceil/sqrt/COUNT are exactly specified, so both engines derive
    the same k). ``k_cap``/``train_cap`` mirror the Spark side's
    least(k, cap) cell bound and prefix-sample training set — identical
    filters, so parity is unconditional at any scale."""
    parts = [
        f"emb AS ({DUCK_EMB})",
        f"normed AS (SELECT vec_id, v, {DUCK_DOT.format(a='v', b='v')} AS norm2 FROM emb)",
    ]
    if dynamic_k:
        k_expr = "ceil(sqrt(COUNT(*)))"
        if k_cap is not None:
            k_expr = f"least({k_expr}, {k_cap})"
        parts.append(
            f"kdyn AS (SELECT CAST({k_expr} AS BIGINT) AS k FROM normed)"
        )
        k_sql = "(SELECT k FROM kdyn)"
    else:
        k_sql = str(K)
    if train_cap is None:
        train_src = "normed"
    else:
        train_src = "train"
        parts.append(
            f"train AS (SELECT * FROM normed WHERE vec_id < {train_cap})"
        )
    parts.append(
        f"cent0 AS (SELECT vec_id AS cluster, v AS cv FROM normed WHERE vec_id < {k_sql})"
    )
    prev = "cent0"
    for i in range(1, N_ITERS + 1):
        parts.append(_iteration_sql(prev, i, src=train_src).strip())
        prev = f"cent{i}"
    final = f"""
final AS (
  SELECT vec_id, norm2, v, cluster FROM (
    SELECT e.vec_id, e.norm2, e.v, c.cluster,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        e.norm2 + {DUCK_DOT.format(a='c.cv', b='c.cv')}
          - 2 * {DUCK_DOT.format(a='e.v', b='c.cv')} ASC, c.cluster ASC) AS r
    FROM normed e, {prev} c
  ) WHERE r = 1
)"""
    parts.append(final.strip())
    return parts, prev


def _kmeans_sql() -> str:
    parts, prev = _cte_chain()
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT f.cluster, COUNT(*) AS n_points,
  CAST(SUM(CAST(floor((f.norm2 + {DUCK_DOT.format(a='c.cv', b='c.cv')}
    - 2 * {DUCK_DOT.format(a='f.v', b='c.cv')}) * 1000000.0 + 0.5) AS BIGINT))
    AS BIGINT) AS inertia_micro
FROM final f JOIN {prev} c ON f.cluster = c.cluster
GROUP BY f.cluster
"""
    )


def q_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the TRAINED coarse quantizer: the k-means centroids
    (after ``N_ITERS`` Lloyd iterations) replace ``sim_ivf_ann``'s fixed
    seed cells, then each query is answered by exact cosine re-rank
    within its cell. Same plan shape as the fixed-seed IVF — broadcast-k
    assignment join + equi-join on cell — which is the point: training
    the quantizer changes recall, not the physical plan. The oracle
    replays the identical Lloyd unroll (kmeans CTE chain) and in-cell
    scoring."""
    from pyspark.sql import Window

    emb = _emb_norm(spark, sf_dir)
    cells = _assign(emb, trained_centroids(emb, memo_key=(sf_dir, "k8")))
    q = cells.filter(F.col("vec_id") < N_QUERIES).selectExpr(
        "vec_id AS q_id", "v AS qv", "norm2 AS q_norm2", "cluster AS cell_id"
    )
    cand = cells.selectExpr(
        "vec_id AS c_id", "v AS cv", "norm2 AS c_norm2", "cluster AS cell_id"
    )
    scored = (
        q.join(cand, "cell_id")
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn(
            "cosine",
            F.expr(SPARK_DOT.format(a="qv", b="cv"))
            / F.sqrt(F.col("q_norm2") * F.col("c_norm2")),
        )
    )
    wtop = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wtop).cast("long"))
        .filter(F.col("rank") <= 3)
        .select(
            "q_id", "cell_id", "rank",
            F.col("c_id").alias("neighbor_id"), "cosine",
        )
    )


def _ivf_trained_sql() -> str:
    parts, _ = _cte_chain()
    scored = f"""
scored AS (
  SELECT q.vec_id AS q_id, q.cluster AS cell_id, c.vec_id AS c_id,
    {DUCK_DOT.format(a='q.v', b='c.v')} / sqrt(q.norm2 * c.norm2) AS cosine
  FROM final q JOIN final c ON q.cluster = c.cluster
   AND q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
)"""
    return (
        "WITH " + ",\n".join(parts + [scored.strip()]) + """
SELECT q_id, cell_id, rank, c_id AS neighbor_id, cosine FROM (
  SELECT q_id, cell_id, c_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""
    )


def register_all() -> None:
    register("kmeans_clusters", q_kmeans_assignments, _kmeans_sql())
    register("sim_ivf_trained", q_ivf_trained, _ivf_trained_sql())
