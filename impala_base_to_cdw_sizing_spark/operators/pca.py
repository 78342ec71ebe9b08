"""Principal direction of the embedding cloud — power iteration over the
centered covariance, unrolled like ``kmeans_clusters``/``graph_pagerank_conserving``
so even this iterative linear-algebra op is DuckDB-oracle-checkable.

The covariance matrix is never materialized (64x64 would be fine here,
but the POINT is the 100 TB shape): each round applies C to the current
direction as two streaming passes, ``dot_i = c_i . x`` then
``y_d = sum_i c_i[d] * dot_i`` — a per-row map plus one (pos)-keyed
aggregation with map-side partials. Cross-engine float discipline:

- the mean and every per-dim sum accumulate integer nano-units
  (order-independent, the centroid trick);
- the direction x lives as an ``array<long>`` of nano-units between
  rounds — never round-tripped through binary doubles, so no
  re-quantization drift;
- per-term products quantize to nano BEFORE the order-dependent SUM;
- dots and norms fold in fixed index order; sqrt is correctly rounded.

Output: 64 rows ``(pos, loading_nano, lambda_micro)`` — the direction
after ``_PCA_ROUNDS`` rounds and the Rayleigh-style eigenvalue estimate
``|y| / n``. ``tests/test_pca.py`` differential-tests the whole chain
against a numpy replica of the same quantized recurrence and checks the
direction against numpy's exact top eigenvector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries_ext import register
from .similarity import DUCK_DOT, SPARK_DOT
from ..sources.files import read_input

DIM = 64
_PCA_ROUNDS = 3
_NANO = 1_000_000_000.0

# x is integer nano-units; the dot divides each component back just-in-time
_SPARK_DOT_XN = (
    "aggregate(zip_with({a}, {b}, (p, q) -> p * (q / 1000000000.0)), "
    "CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
)
_DUCK_DOT_XN = (
    "list_reduce([CAST(0 AS DOUBLE)] || "
    "list_transform(range(1, len({a}) + 1), i -> {a}[i] * ({b}[i] / 1000000000.0)), "
    "(acc, t) -> acc + t)"
)


def _centered(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_input(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "transform(embedding, e -> CAST(e AS DOUBLE)) AS v"
    )
    mean = (
        emb.select(F.posexplode("v").alias("pos", "e"))
        .withColumn("e_nano", F.floor(F.col("e") * _NANO + 0.5).cast("long"))
        .groupBy("pos")
        .agg(
            F.sum(F.col("e_nano").cast("decimal(38,0)")).alias("s"),
            F.count("*").alias("n"),
        )
        .selectExpr("pos", f"CAST(s AS DOUBLE) / {_NANO} / n AS m")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, m))), p -> p.m)"
            ).alias("mv")
        )
    )
    return emb.crossJoin(F.broadcast(mean)).selectExpr(
        "vec_id", "zip_with(v, mv, (a, b) -> a - b) AS cv"
    )


def _e_basis(spark: SparkSession, d0: int) -> DataFrame:
    """x0 = e_{d0} in nano units."""
    return spark.range(1).selectExpr(
        f"transform(sequence(0, {DIM - 1}),"
        f" d -> CAST(IF(d = {d0}, 1000000000, 0) AS BIGINT)) AS xn"
    )


def _power_round(cent: DataFrame, x: DataFrame, v1: DataFrame | None) -> DataFrame:
    """One quantized power round ``x → normalize((C x) ⊥ v1)``. With
    ``v1`` the deflation direction (nano units, 1 row as ``xn1``), the
    Gram–Schmidt step ``y − (y·v1) v1`` runs per-element in fixed index
    order on both engines BEFORE the norm/quantize — deterministic
    doubles, then back to integer nano-units."""
    dots = cent.crossJoin(F.broadcast(x)).withColumn(
        "dt", F.expr(_SPARK_DOT_XN.format(a="cv", b="xn"))
    )
    y = (
        dots.select(F.posexplode("cv").alias("pos", "cval"), "dt")
        .withColumn(
            "t_nano",
            F.floor(F.col("cval") * F.col("dt") * _NANO + 0.5).cast("long"),
        )
        .groupBy("pos")
        .agg(F.sum(F.col("t_nano").cast("decimal(38,0)")).alias("s"))
        .selectExpr("pos", f"CAST(s AS DOUBLE) / {_NANO} AS yd")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, yd))),"
                " p -> p.yd)"
            ).alias("ys")
        )
    )
    if v1 is not None:
        y = (
            y.crossJoin(F.broadcast(v1.select("xn1")))
            .withColumn("proj", F.expr(_SPARK_DOT_XN.format(a="ys", b="xn1")))
            .selectExpr(
                "zip_with(ys, xn1, (yv, vv) ->"
                f" yv - proj * (vv / {_NANO})) AS ys"
            )
        )
    return y.selectExpr(
        "ys", f"sqrt({SPARK_DOT.format(a='ys', b='ys')}) AS nrm"
    ).selectExpr(
        "transform(ys, e -> CAST(floor(e / nrm * 1000000000.0 + 0.5)"
        " AS BIGINT)) AS xn",
        "nrm",
    )


def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    cent = _centered(spark, sf_dir).localCheckpoint(eager=True)
    n_frame = cent.agg(F.count("*").alias("n"))
    x = _e_basis(spark, 0)
    for _ in range(_PCA_ROUNDS):
        x = _power_round(cent, x, None)
    out = (
        x.crossJoin(F.broadcast(n_frame))
        .selectExpr(
            "posexplode(xn) AS (pos, loading_nano)",
            "CAST(floor(nrm / n * 1000000.0 + 0.5) AS BIGINT) AS lambda_micro",
        )
        .selectExpr("CAST(pos AS BIGINT) AS pos", "loading_nano", "lambda_micro")
    )
    return out


def _sql_pca_round(prev: str, i: int) -> str:
    return f"""
dots{i} AS (
  SELECT c.vec_id, c.cv, {_DUCK_DOT_XN.format(a='c.cv', b='x.xn')} AS dt
  FROM cent c, {prev} x
),
y{i} AS (
  SELECT list(yd ORDER BY pos) AS ys FROM (
    SELECT pos, CAST(SUM(CAST(t_nano AS DECIMAL(38,0))) AS DOUBLE) / {_NANO} AS yd
    FROM (
      SELECT CAST(u.p AS INTEGER) AS pos,
        CAST(floor(d.cv[u.p] * d.dt * {_NANO} + 0.5) AS BIGINT) AS t_nano
      FROM dots{i} d, UNNEST(range(1, {DIM} + 1)) AS u(p)
    ) GROUP BY pos
  )
),
x{i} AS (
  SELECT list_transform(ys, e -> CAST(floor(e / nrm * {_NANO} + 0.5) AS BIGINT))
    AS xn, nrm
  FROM (SELECT ys, sqrt({DUCK_DOT.format(a='ys', b='ys')}) AS nrm FROM y{i})
)"""


def _sql_pca_ctes() -> tuple[list[str], str]:
    """Component-1 power-iteration chain as ``(cte_parts, final_select)``.

    ``_sql_pca_power`` joins the two; ``_sql_pca_topk_ctes`` reuses only
    the CTE parts and appends the deflated component-2 chain (r6 ADVICE:
    composing from shared parts replaces the old string-split on the
    final SELECT's literal text, which broke on any cosmetic edit).
    """
    x0 = "[" + ", ".join(
        "CAST(1000000000 AS BIGINT)" if d == 0 else "CAST(0 AS BIGINT)"
        for d in range(DIM)
    ) + "]"
    parts = [
        "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"""mean AS (
  SELECT list(m ORDER BY pos) AS mv FROM (
    SELECT pos, CAST(SUM(CAST(e_nano AS DECIMAL(38,0))) AS DOUBLE)
      / {_NANO} / COUNT(*) AS m
    FROM (
      SELECT CAST(u.p AS INTEGER) AS pos,
        CAST(floor(v[u.p] * {_NANO} + 0.5) AS BIGINT) AS e_nano
      FROM emb, UNNEST(range(1, {DIM} + 1)) AS u(p)
    ) GROUP BY pos
  )
)""",
        """cent AS (
  SELECT vec_id, list_transform(range(1, len(v) + 1), i -> v[i] - mv[i]) AS cv
  FROM emb, mean
)""",
        "nrow AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cent)",
        f"x0 AS (SELECT {x0} AS xn)",
    ]
    prev = "x0"
    for i in range(1, _PCA_ROUNDS + 1):
        parts.append(_sql_pca_round(prev, i).strip())
        prev = f"x{i}"
    final_select = f"""
SELECT CAST(u.p - 1 AS BIGINT) AS pos, x.xn[u.p] AS loading_nano,
  CAST(floor(x.nrm / w.n * 1000000.0 + 0.5) AS BIGINT) AS lambda_micro
FROM {prev} x, nrow w, UNNEST(range(1, {DIM} + 1)) AS u(p)
"""
    return parts, final_select


def _sql_pca_power() -> str:
    parts, final_select = _sql_pca_ctes()
    return "WITH " + ",\n".join(parts) + final_select


def _sql_pca_round2(prev: str, i: int) -> str:
    """One deflated round for component 2: apply C, then Gram–Schmidt
    against ``v1``, then normalize/quantize."""
    return f"""
dots2{i} AS (
  SELECT c.vec_id, c.cv, {_DUCK_DOT_XN.format(a='c.cv', b='x.xn')} AS dt
  FROM cent c, {prev} x
),
yr2{i} AS (
  SELECT list(yd ORDER BY pos) AS ys FROM (
    SELECT pos, CAST(SUM(CAST(t_nano AS DECIMAL(38,0))) AS DOUBLE) / {_NANO} AS yd
    FROM (
      SELECT CAST(u.p AS INTEGER) AS pos,
        CAST(floor(d.cv[u.p] * d.dt * {_NANO} + 0.5) AS BIGINT) AS t_nano
      FROM dots2{i} d, UNNEST(range(1, {DIM} + 1)) AS u(p)
    ) GROUP BY pos
  )
),
yo2{i} AS (
  SELECT list_transform(range(1, {DIM} + 1),
    d -> ys[d] - proj * (xn1[d] / {_NANO})) AS ys
  FROM (
    SELECT y.ys, v.xn1, {_DUCK_DOT_XN.format(a='y.ys', b='v.xn1')} AS proj
    FROM yr2{i} y, v1 v
  )
),
x2{i} AS (
  SELECT list_transform(ys, e -> CAST(floor(e / nrm * {_NANO} + 0.5) AS BIGINT))
    AS xn, nrm
  FROM (SELECT ys, sqrt({DUCK_DOT.format(a='ys', b='ys')}) AS nrm FROM yo2{i})
)"""


def _sql_pca_topk_ctes() -> list[str]:
    """Full two-component CTE chain (component-1 parts + deflated
    component-2 parts + the ortho witness) — the base of the whitening
    projection."""
    c1_parts, _ = _sql_pca_ctes()
    x2_0 = "[" + ", ".join(
        "CAST(1000000000 AS BIGINT)" if d == 1 else "CAST(0 AS BIGINT)"
        for d in range(DIM)
    ) + "]"
    parts = [
        f"v1 AS (SELECT xn AS xn1, nrm AS nrm1 FROM x{_PCA_ROUNDS})",
        f"x2_0 AS (SELECT {x2_0} AS xn)",
    ]
    prev = "x2_0"
    for i in range(1, _PCA_ROUNDS + 1):
        parts.append(_sql_pca_round2(prev, i).strip())
        prev = f"x2{i}"
    parts.append(
        f"""ortho AS (
  SELECT CAST(floor(abs(list_reduce([CAST(0 AS DOUBLE)] ||
    list_transform(range(1, {DIM} + 1),
      i -> (CAST(v.xn1[i] AS DOUBLE) / {_NANO})
         * (CAST(x.xn[i] AS DOUBLE) / {_NANO})),
    (acc, t) -> acc + t)) * {_NANO} + 0.5) AS BIGINT) AS ortho_nano
  FROM v1 v, {prev} x
)"""
    )
    return c1_parts + parts


def q_emb_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA whitening in the top-2 principal subspace: each vector's
    coordinates along v1/v2, scaled by 1/sqrt(lambda_k) so both output
    dimensions have ~unit variance — the standard embedding
    post-processing (whitening-k) before cosine retrieval or as input
    to a density model. Composes the two power chains verbatim; the
    projection itself is one broadcast cross-join and a per-row fold —
    the 100 TB cost is the PCA training pass, already amortized.
    Per-vector coords quantize to integer micro-units AFTER the one
    dot/sqrt/divide sequence (all correctly-rounded IEEE ops on
    identical inputs — same doubles both engines).
    ``tests/test_pca.py`` pins the unit-variance contract."""
    cent = _centered(spark, sf_dir).localCheckpoint(eager=True)
    n_frame = cent.agg(F.count("*").alias("n"))
    x1 = _e_basis(spark, 0)
    for _ in range(_PCA_ROUNDS):
        x1 = _power_round(cent, x1, None)
    x1 = x1.selectExpr("xn AS xn1", "nrm AS nrm1").localCheckpoint(eager=True)
    x2 = _e_basis(spark, 1)
    for _ in range(_PCA_ROUNDS):
        x2 = _power_round(cent, x2, x1)
    x2 = x2.selectExpr("xn AS xn2", "nrm AS nrm2")
    return (
        cent.crossJoin(F.broadcast(x1))
        .crossJoin(F.broadcast(x2))
        .crossJoin(F.broadcast(n_frame))
        .selectExpr(
            "vec_id",
            f"CAST(floor({_SPARK_DOT_XN.format(a='cv', b='xn1')}"
            " / sqrt(nrm1 / n) * 1000000.0 + 0.5) AS BIGINT) AS w1_micro",
            f"CAST(floor({_SPARK_DOT_XN.format(a='cv', b='xn2')}"
            " / sqrt(nrm2 / n) * 1000000.0 + 0.5) AS BIGINT) AS w2_micro",
        )
    )


def _sql_emb_whitening() -> str:
    prev = f"x2{_PCA_ROUNDS}"
    return (
        "WITH " + ",\n".join(_sql_pca_topk_ctes()) + f"""
SELECT c.vec_id,
  CAST(floor({_DUCK_DOT_XN.format(a='c.cv', b='v.xn1')}
    / sqrt(v.nrm1 / w.n) * 1000000.0 + 0.5) AS BIGINT) AS w1_micro,
  CAST(floor({_DUCK_DOT_XN.format(a='c.cv', b='x.xn')}
    / sqrt(x.nrm / w.n) * 1000000.0 + 0.5) AS BIGINT) AS w2_micro
FROM cent c, v1 v, {prev} x, nrow w
"""
    )


def register_all() -> None:
    register("emb_pca_power", q_pca_power, _sql_pca_power())
    register("emb_whitening", q_emb_whitening, _sql_emb_whitening())
