"""Similarity search over the ``embeddings`` table (``array<float>``,
64-dim) — the ANN extension (SURVEY.md §7.1 M8).

Three tiers:
- :func:`q_cosine_topk` — brute-force cosine top-k: broadcast the (small)
  query set against all candidates; dot products are ordered folds over
  the arrays, evaluated inside codegen (no Python). This is the exact
  baseline; at 100 TB it is the *per-bucket* kernel, not the global plan.
- :func:`q_lsh_ann` — the scale path: random-hyperplane LSH as FOUR
  band tables of 4 sign bits each (pure per-row expressions), candidates
  from the UNION of per-band bucket collisions (OR-amplification) with a
  per-bucket candidate cap, exact cosine re-rank of the deduplicated
  set. Same structure as ``BucketedRandomProjectionLSH
  .approxSimilarityJoin`` plus the banding/cap hardening it lacks;
  recall against the exact top-3 is pinned in tests/test_multiprobe.py.
- :func:`q_label_centroids` — vector aggregation: per-label mean vector
  via posexplode + integer micro-unit sums (long-form output).

Numeric determinism: embeddings are cast float→double (exact) before any
arithmetic; dot products fold left in index order in both engines;
centroid sums use integer nano-units (order-independent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries_ext import register
from ..sources.files import ROWS_PER_TASK_HEAVY, read_input

N_QUERIES = 5  # vec_id < 5 are the query vectors
TOP_K = 5


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_input(spark, sf_dir, "embeddings", ROWS_PER_TASK_HEAVY).selectExpr(
        "vec_id", "label", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
    )


# ordered left fold — identical accumulation order in both engines
SPARK_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS DOUBLE), "
    "(acc, x) -> acc + x)"
)
DUCK_DOT = (
    "list_reduce([CAST(0 AS DOUBLE)] || "
    "list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]), "
    "(acc, x) -> acc + x)"
)

DUCK_EMB = (
    "SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"
)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).withColumn(
        "norm2", F.expr(SPARK_DOT.format(a="v", b="v"))
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).selectExpr(
        "vec_id AS q_id", "v AS qv", "norm2 AS q_norm2"
    )
    cand = emb.selectExpr("vec_id AS c_id", "v AS cv", "norm2 AS c_norm2")
    scored = (
        F.broadcast(q)
        .crossJoin(cand)
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn(
            "cosine",
            F.expr(SPARK_DOT.format(a="qv", b="cv"))
            / F.sqrt(F.col("q_norm2") * F.col("c_norm2")),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "rank", F.col("c_id").alias("neighbor_id"), "cosine")
    )


SQL_COSINE_TOPK = f"""
WITH emb AS ({DUCK_EMB}),
normed AS (
  SELECT vec_id, v, {DUCK_DOT.format(a='v', b='v')} AS norm2 FROM emb
),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
    {DUCK_DOT.format(a='q.v', b='c.v')} / sqrt(q.norm2 * c.norm2) AS cosine
  FROM normed q JOIN normed c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
)
SELECT q_id, rank, c_id AS neighbor_id, cosine FROM (
  SELECT q_id, c_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


# --- LSH-bucketed ANN: OR-banded multi-table form --------------------------------

# 16 hyperplanes (plane p = sign of the contrast over dims 4p..4p+3 —
# every plane reads distinct dims, deterministic, covering all DIM=64
# dims), grouped into 4 band tables of 4 bits (16 buckets each). A pair
# is a candidate if it collides in ANY band (OR-amplification): one
# band's recall miss needs all 4 bands to miss — the MinHash-style
# S-curve the single 8-bit table lacked. Each band bucket additionally
# caps its candidate list at _BUCKET_CAP rows (deterministic vec_id
# order): a hot bucket contributes O(cap²) pairs instead of going
# quadratic — the embedding-side analog of the n-gram df≤50 cut.
DIM = 64
_N_BANDS_EMB = 4
_BITS_PER_BAND = 4
_BUCKET_CAP = 64


def _band_key(t: int, base: int) -> str:
    """4-bit bucket key of band ``t``; ``base``: 0 Spark, 1 DuckDB."""
    terms = []
    for i in range(_BITS_PER_BAND):
        p = t * _BITS_PER_BAND + i
        d = 4 * p + base
        terms.append(
            f"CASE WHEN v[{d}] - v[{d + 1}] + v[{d + 2}] - v[{d + 3}]"
            f" > CAST(0 AS DOUBLE) THEN {1 << i} ELSE 0 END"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _banded_spark(emb: DataFrame) -> DataFrame:
    """(vec_id, band_id, band_key) — one row per vector per band table."""
    structs = ", ".join(
        f"struct({t} AS band_id, {_band_key(t, 0)} AS band_key)"
        for t in range(_N_BANDS_EMB)
    )
    return emb.selectExpr(
        "vec_id", f"explode(array({structs})) AS band"
    ).select("vec_id", "band.band_id", "band.band_key")


def _capped_spark(banded: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("band_id", "band_key").orderBy("vec_id")
    return (
        banded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _BUCKET_CAP)
        .drop("rn")
    )


_DUCK_BANDS = " UNION ALL ".join(
    f"SELECT vec_id, {t} AS band_id, {_band_key(t, 1)} AS band_key FROM normed"
    for t in range(_N_BANDS_EMB)
)

_DUCK_CAPPED = f"""
  SELECT vec_id, band_id, band_key FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY band_id, band_key ORDER BY vec_id) AS rn
    FROM bands
  ) WHERE rn <= {_BUCKET_CAP}
"""


def q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-banded ANN: candidates from a union of 4 band-table collisions
    (queries uncapped, candidate side bucket-capped), exact cosine
    re-rank of the deduplicated candidate set. ``n_bands_hit`` records
    how many band tables voted for the pair — the multi-probe signal."""
    emb = _emb(spark, sf_dir).withColumn(
        "norm2", F.expr(SPARK_DOT.format(a="v", b="v"))
    )
    banded = _banded_spark(emb)
    q = banded.filter(F.col("vec_id") < N_QUERIES).selectExpr(
        "vec_id AS q_id", "band_id", "band_key"
    )
    cand = _capped_spark(banded).selectExpr("vec_id AS c_id", "band_id", "band_key")
    hits = (
        q.join(cand, ["band_id", "band_key"])
        .filter(F.col("q_id") != F.col("c_id"))
        .groupBy("q_id", "c_id")
        .agg(F.count("*").alias("n_bands_hit"))
    )
    qv = emb.selectExpr("vec_id AS q_id", "v AS qv", "norm2 AS q_norm2")
    cv = emb.selectExpr("vec_id AS c_id", "v AS cv", "norm2 AS c_norm2")
    scored = hits.join(qv, "q_id").join(cv, "c_id").withColumn(
        "cosine",
        F.expr(SPARK_DOT.format(a="qv", b="cv"))
        / F.sqrt(F.col("q_norm2") * F.col("c_norm2")),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select(
            "q_id", "rank", F.col("c_id").alias("neighbor_id"),
            "n_bands_hit", "cosine",
        )
    )


SQL_LSH_ANN = f"""
WITH emb AS ({DUCK_EMB}),
normed AS (
  SELECT vec_id, v, {DUCK_DOT.format(a='v', b='v')} AS norm2 FROM emb
),
bands AS ({_DUCK_BANDS}),
capped AS ({_DUCK_CAPPED}),
hits AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, COUNT(*) AS n_bands_hit
  FROM bands q JOIN capped c
    ON q.band_id = c.band_id AND q.band_key = c.band_key
   AND q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT h.q_id, h.c_id, h.n_bands_hit,
    {DUCK_DOT.format(a='q.v', b='c.v')} / sqrt(q.norm2 * c.norm2) AS cosine
  FROM hits h
  JOIN normed q ON q.vec_id = h.q_id
  JOIN normed c ON c.vec_id = h.c_id
)
SELECT q_id, rank, c_id AS neighbor_id, n_bands_hit, cosine FROM (
  SELECT q_id, c_id, n_bands_hit, cosine,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


# --- query-directed multi-probe --------------------------------------------------
#
# Standard LSH hardening after OR-banding: probe a SECOND bucket per
# band — the one reached by flipping the band's least-confident bit
# (the hyperplane whose contrast |margin| is smallest; a near-zero
# margin is exactly where quantization most likely disagreed with the
# true neighbor). Query-directed probing (Lv et al., VLDB'07 shape)
# beats blind Hamming-1 fan-out: 2 probes/band bounds the candidate
# growth at 2x structurally, versus (1 + bits)x for flip-every-bit.
# Knob: _MP_PROBES (probes per band, incl. the home bucket).

_MP_PROBES = 2


def _mp_keys(t: int, base: int) -> tuple[str, str]:
    """(home_key, alt_key) SQL for band ``t``: home is exactly
    :func:`_band_key`; alt flips the bit whose |contrast| is smallest.
    ``base``: 0 Spark (also selects dialect), 1 DuckDB."""
    contrasts = []
    for i in range(_BITS_PER_BAND):
        p = t * _BITS_PER_BAND + i
        d = 4 * p + base
        contrasts.append(f"(v[{d}] - v[{d + 1}] + v[{d + 2}] - v[{d + 3}])")
    bits = " + ".join(
        f"CASE WHEN {c} > CAST(0 AS DOUBLE) THEN {1 << i} ELSE 0 END"
        for i, c in enumerate(contrasts)
    )
    home = f"CAST({bits} AS BIGINT)"
    margins = ", ".join(f"abs({c})" for c in contrasts)
    if base == 0:  # Spark dialect
        arr = f"array({margins})"
        flip = (
            f"shiftleft(CAST(1 AS BIGINT), "
            f"CAST(array_position({arr}, array_min({arr})) AS INT) - 1)"
        )
        alt = f"({home} ^ {flip})"
    else:  # DuckDB dialect
        arr = f"[{margins}]"
        flip = f"(CAST(1 AS BIGINT) << (list_position({arr}, list_min({arr})) - 1))"
        alt = f"xor({home}, {flip})"
    return home, alt


def _probed_queries_spark(emb: DataFrame) -> DataFrame:
    """(q_id, band_id, band_key) with TWO probe rows per band per query
    vector: the home bucket and the least-confident-bit flip."""
    structs = []
    for t in range(_N_BANDS_EMB):
        # home bucket + (probes - 1) flips of the weakest hyperplane(s);
        # at _MP_PROBES == 2 that is exactly [home, weakest-bit flip]
        home, alt = _mp_keys(t, 0)
        structs.append(f"struct({t} AS band_id, {home} AS band_key)")
        structs.append(f"struct({t} AS band_id, {alt} AS band_key)")
        assert _MP_PROBES == 2, "probe generator currently emits 2/band"
    return (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .selectExpr("vec_id", "v", f"explode(array({', '.join(structs)})) AS band")
        .select(
            F.col("vec_id").alias("q_id"), "band.band_id", "band.band_key"
        )
    )


def q_lsh_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-banded ANN with query-directed multi-probe: same 4 band
    tables and capped candidate side as :func:`q_lsh_ann`, but each
    query probes its band bucket AND the bucket across its weakest
    hyperplane — ≤2x the candidate pairs for strictly-superset recall
    (the recall gain and the plain/probed candidate budget are pinned
    in tests/test_multiprobe.py)."""
    emb = _emb(spark, sf_dir).withColumn(
        "norm2", F.expr(SPARK_DOT.format(a="v", b="v"))
    )
    q = _probed_queries_spark(emb)
    cand = _capped_spark(_banded_spark(emb)).selectExpr(
        "vec_id AS c_id", "band_id", "band_key"
    )
    hits = (
        q.join(cand, ["band_id", "band_key"])
        .filter(F.col("q_id") != F.col("c_id"))
        .groupBy("q_id", "c_id")
        .agg(F.count("*").alias("n_probe_hits"))
    )
    qv = emb.selectExpr("vec_id AS q_id", "v AS qv", "norm2 AS q_norm2")
    cv = emb.selectExpr("vec_id AS c_id", "v AS cv", "norm2 AS c_norm2")
    scored = hits.join(qv, "q_id").join(cv, "c_id").withColumn(
        "cosine",
        F.expr(SPARK_DOT.format(a="qv", b="cv"))
        / F.sqrt(F.col("q_norm2") * F.col("c_norm2")),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select(
            "q_id", "rank", F.col("c_id").alias("neighbor_id"),
            "n_probe_hits", "cosine",
        )
    )


def _duck_probe_rows() -> str:
    rows = []
    for t in range(_N_BANDS_EMB):
        home, alt = _mp_keys(t, 1)
        rows.append(
            f"SELECT vec_id, {t} AS band_id, {home} AS band_key FROM normed"
            f" WHERE vec_id < {N_QUERIES}"
        )
        rows.append(
            f"SELECT vec_id, {t} AS band_id, {alt} AS band_key FROM normed"
            f" WHERE vec_id < {N_QUERIES}"
        )
    return " UNION ALL ".join(rows)


def _sql_lsh_ann_multiprobe() -> str:
    return f"""
WITH emb AS ({DUCK_EMB}),
normed AS (
  SELECT vec_id, v, {DUCK_DOT.format(a='v', b='v')} AS norm2 FROM emb
),
bands AS ({_DUCK_BANDS}),
capped AS ({_DUCK_CAPPED}),
probes AS ({_duck_probe_rows()}),
hits AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, COUNT(*) AS n_probe_hits
  FROM probes q JOIN capped c
    ON q.band_id = c.band_id AND q.band_key = c.band_key
   AND q.vec_id <> c.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT h.q_id, h.c_id, h.n_probe_hits,
    {DUCK_DOT.format(a='q.v', b='c.v')} / sqrt(q.norm2 * c.norm2) AS cosine
  FROM hits h
  JOIN normed q ON q.vec_id = h.q_id
  JOIN normed c ON c.vec_id = h.c_id
)
SELECT q_id, rank, c_id AS neighbor_id, n_probe_hits, cosine FROM (
  SELECT q_id, c_id, n_probe_hits, cosine,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


# --- per-label centroids (vector aggregation) --------------------------------------

_NANO = 1_000_000_000.0


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return (
        emb.select("label", F.posexplode("v").alias("pos", "x"))
        .withColumn("x_nano", F.floor(F.col("x") * _NANO + 0.5).cast("long"))
        .groupBy("label", "pos")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("x_nano").cast("decimal(38,0)")).alias("sum_nano"),
        )
        .selectExpr(
            "label", "pos", "n",
            f"CAST(sum_nano AS DOUBLE) / {_NANO} / n AS mean_x",
        )
    )


SQL_LABEL_CENTROIDS = f"""
WITH emb AS ({DUCK_EMB}),
exploded AS (
  SELECT label, CAST(i - 1 AS INTEGER) AS pos,
    CAST(floor(v[i] * {_NANO} + 0.5) AS BIGINT) AS x_nano
  FROM emb, (SELECT unnest(range(1, {DIM + 1})) AS i)
)
SELECT label, pos, COUNT(*) AS n,
  CAST(CAST(SUM(CAST(x_nano AS DECIMAL(38,0))) AS STRING) AS DOUBLE) / {_NANO} / COUNT(*) AS mean_x
FROM exploded
GROUP BY label, pos
"""


# --- embedding outlier mining (distance to own-label centroid) -------------------


def q_emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation pass for labeled embeddings: flag the 5% of vectors
    farthest from their OWN label's centroid — the review budget for
    mislabeled or degenerate points that poison contrastive training.
    (Budget-based, not sigma-based: high-dimensional distances
    concentrate — a 2x-the-mean cut is ~6 sigma at 64 dims and never
    fires — so production curation flags a fixed quantile.)

    Determinism is engineered at every reduction: centroids come from
    the integer nano-unit sums (`q_label_centroids` — the division is
    then the same double in both engines), per-vector distances
    quantize each dimension's squared residual to nano-units BEFORE the
    per-vector sum (64 bigints add exactly in any order), and the 5%
    cut is an integer rank over (d2, vec_id) — no float mean, no
    tolerance.

    Scale: centroids are |labels|×DIM rows (broadcast); the residual
    join is a map-side broadcast join on (label, pos); the per-vector
    sum is one shuffle keyed by vec_id. Nothing quadratic anywhere."""
    cent = q_label_centroids(spark, sf_dir).select(
        "label", "pos", F.col("mean_x").alias("c")
    )
    residuals = (
        _emb(spark, sf_dir)
        .select("vec_id", "label", F.posexplode("v").alias("pos", "x"))
        .join(F.broadcast(cent), ["label", "pos"])
        .selectExpr(
            "vec_id", "label",
            f"CAST(floor((x - c) * (x - c) * {_NANO} + 0.5) AS BIGINT)"
            " AS sq_nano",
        )
    )
    per_vec = residuals.groupBy("vec_id", "label").agg(
        F.sum("sq_nano").alias("d2_nano")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("label").orderBy(
        F.col("d2_nano").desc(), F.col("vec_id").asc()
    )
    wn = Window.partitionBy("label")
    return (
        per_vec.withColumn("rk", F.row_number().over(w))
        .withColumn("n_vecs", F.count("*").over(wn))
        .selectExpr(
            "vec_id", "label", "d2_nano",
            "CAST(rk <= CAST(ceil(0.05 * n_vecs) AS INT) AS BIGINT)"
            " AS is_outlier",
        )
    )


SQL_EMB_OUTLIERS = f"""
WITH emb AS ({DUCK_EMB}),
cent AS (
  SELECT label, pos, mean_x AS c FROM ({SQL_LABEL_CENTROIDS.strip()})
),
residuals AS (
  SELECT e.vec_id, e.label,
    CAST(floor((e.v[i] - c.c) * (e.v[i] - c.c) * {_NANO} + 0.5) AS BIGINT)
      AS sq_nano
  FROM emb e, (SELECT unnest(range(1, {DIM + 1})) AS i) dims
  JOIN cent c ON c.label = e.label AND c.pos = i - 1
),
per_vec AS (
  SELECT vec_id, label, CAST(SUM(sq_nano) AS BIGINT) AS d2_nano
  FROM residuals GROUP BY 1, 2
),
ranked AS (
  SELECT vec_id, label, d2_nano,
    ROW_NUMBER() OVER (
      PARTITION BY label ORDER BY d2_nano DESC, vec_id ASC) AS rk,
    COUNT(*) OVER (PARTITION BY label) AS n_vecs
  FROM per_vec
)
SELECT vec_id, label, d2_nano,
  CAST(rk <= CAST(ceil(0.05 * n_vecs) AS INT) AS BIGINT) AS is_outlier
FROM ranked
"""


# --- IVF-style ANN: coarse quantizer + in-cell search -------------------------------

_N_CELLS = 8  # vec_id 0..7 double as fixed coarse centroids (deterministic)


def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search: assign every vector to its nearest of ``_N_CELLS`` fixed
    seed centroids (argmin L2², deterministic ties), then answer each query
    by exact cosine re-rank *within its cell only*.

    The scale shape: cell assignment is a broadcast-8-rows join (a map
    stage), the search is an equi-join on cell id — candidates shrink by
    ~n_cells× vs brute force. A trained quantizer (k-means) would slot in
    without changing the plan.
    """
    emb = _emb(spark, sf_dir).withColumn(
        "norm2", F.expr(SPARK_DOT.format(a="v", b="v"))
    )
    seeds = emb.filter(F.col("vec_id") < _N_CELLS).selectExpr(
        "vec_id AS cell_id", "v AS sv", "norm2 AS s_norm2"
    )
    # L2²(v, s) = |v|² + |s|² − 2·v·s ; argmin via deterministic ranked window
    from pyspark.sql import Window

    dists = (
        emb.crossJoin(F.broadcast(seeds))
        .withColumn(
            "dist2",
            F.col("norm2") + F.col("s_norm2")
            - 2 * F.expr(SPARK_DOT.format(a="v", b="sv")),
        )
    )
    wcell = Window.partitionBy("vec_id").orderBy(
        F.col("dist2").asc(), F.col("cell_id").asc()
    )
    cells = (
        dists.withColumn("r", F.row_number().over(wcell))
        .filter(F.col("r") == 1)
        .select("vec_id", "label", "v", "norm2", "cell_id")
    )
    q = cells.filter(F.col("vec_id") < N_QUERIES).selectExpr(
        "vec_id AS q_id", "v AS qv", "norm2 AS q_norm2", "cell_id"
    )
    cand = cells.selectExpr(
        "vec_id AS c_id", "v AS cv", "norm2 AS c_norm2", "cell_id"
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
        .select("q_id", "cell_id", "rank", F.col("c_id").alias("neighbor_id"), "cosine")
    )


SQL_IVF_ANN = f"""
WITH emb AS ({DUCK_EMB}),
normed AS (
  SELECT vec_id, label, v, {DUCK_DOT.format(a='v', b='v')} AS norm2 FROM emb
),
seeds AS (
  SELECT vec_id AS cell_id, v AS sv, norm2 AS s_norm2
  FROM normed WHERE vec_id < {_N_CELLS}
),
dists AS (
  SELECT n.vec_id, n.label, n.v, n.norm2, s.cell_id,
    n.norm2 + s.s_norm2 - 2 * {DUCK_DOT.format(a='n.v', b='s.sv')} AS dist2
  FROM normed n, seeds s
),
cells AS (
  SELECT vec_id, label, v, norm2, cell_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY dist2 ASC, cell_id ASC) AS r
    FROM dists
  ) WHERE r = 1
),
scored AS (
  SELECT q.vec_id AS q_id, q.cell_id AS cell_id, c.vec_id AS c_id,
    {DUCK_DOT.format(a='q.v', b='c.v')} / sqrt(q.norm2 * c.norm2) AS cosine
  FROM cells q JOIN cells c ON q.cell_id = c.cell_id
   AND q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
)
SELECT q_id, cell_id, rank, c_id AS neighbor_id, cosine FROM (
  SELECT q_id, cell_id, c_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


# --- vectorized Pandas-UDF cosine (the Arrow path) ------------------------------


def cosine_pandas_udf():
    """Arrow-batched cosine kernel — the documented alternative when
    expression-level vector math isn't enough (e.g. calling into numpy/
    faiss). Property-tested equal to the expression form; NOT used on
    oracle paths (the JVM expression is the default)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no type annotations: the hints would be evaluated against this
    # module's globals where pd isn't bound (locally imported); the
    # explicit returnType drives scalar eval mode instead
    @pandas_udf("double")
    def cosine(a, b):
        va = np.stack(a.to_numpy())
        vb = np.stack(b.to_numpy())
        dots = (va * vb).sum(axis=1)
        norms = np.sqrt((va * va).sum(axis=1) * (vb * vb).sum(axis=1))
        return pd.Series(dots / norms)

    return cosine


# --- embedding-cosine near-duplicate pairs -------------------------------------

# τ chosen for the synthetic corpus: random 64-dim embeddings peak near
# cosine ≈ 0.51 in-bucket, so 0.95 (a realistic near-dup bar) returns an
# empty — and therefore vacuous — oracle check. 0.3 yields a small,
# data-dependent pair set that actually exercises the filter.
_NEAR_DUP_TAU = 0.3


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup detection: candidate pairs from the OR-banded
    LSH tables (both sides bucket-capped — a hot bucket yields O(cap²)
    pairs, never quadratic), exact cosine filter at τ=0.3 (a realistic
    0.95 bar is vacuous on this synthetic corpus — see _NEAR_DUP_TAU).
    The all-pairs analog of `sim_lsh_ann` — the 5th dedup modality
    alongside exact/MinHash/SimHash/n-gram. ``n_bands_hit`` = number of
    band tables that proposed the pair."""
    emb = _emb(spark, sf_dir).withColumn(
        "norm2", F.expr(SPARK_DOT.format(a="v", b="v"))
    )
    capped = _capped_spark(_banded_spark(emb))
    a = capped.selectExpr("vec_id AS id_a", "band_id", "band_key")
    b = capped.selectExpr("vec_id AS id_b", "band_id", "band_key")
    hits = (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_bands_hit"))
    )
    va = emb.selectExpr("vec_id AS id_a", "v AS va", "norm2 AS na")
    vb = emb.selectExpr("vec_id AS id_b", "v AS vb", "norm2 AS nb")
    return (
        hits.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine",
            F.expr(SPARK_DOT.format(a="va", b="vb"))
            / F.sqrt(F.col("na") * F.col("nb")),
        )
        .filter(F.col("cosine") >= _NEAR_DUP_TAU)
        .select("id_a", "id_b", "n_bands_hit", "cosine")
    )


SQL_DEDUP_EMB_COSINE = f"""
WITH emb AS ({DUCK_EMB}),
normed AS (
  SELECT vec_id, v, {DUCK_DOT.format(a='v', b='v')} AS norm2 FROM emb
),
bands AS ({_DUCK_BANDS}),
capped AS ({_DUCK_CAPPED}),
hits AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, COUNT(*) AS n_bands_hit
  FROM capped a JOIN capped b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_bands_hit,
  {DUCK_DOT.format(a='a.v', b='b.v')} / sqrt(a.norm2 * b.norm2) AS cosine
FROM hits
JOIN normed a ON a.vec_id = id_a
JOIN normed b ON b.vec_id = id_b
WHERE {DUCK_DOT.format(a='a.v', b='b.v')} / sqrt(a.norm2 * b.norm2)
      >= {_NEAR_DUP_TAU}
"""


# --- random projection (Johnson-Lindenstrauss sign matrix) -----------------------

RP_DIM = 16


def _rp_signs(i: int) -> list[int]:
    """Deterministic ±1 row of the projection matrix, from an md5 bit of
    (i, j) — the matrix ships as identical literal arrays in both
    dialects, so the generator only needs to be deterministic, not
    SQL-expressible. Weak generators measurably break JL here: a
    multiplicative-hash bit carries enough (i, j) structure to triple
    the cosine distortion vs true Rademacher (measured 0.63 vs 0.2 mean
    abs err on the fixture); md5 bits are distortion-equivalent to
    random."""
    import hashlib

    return [
        1
        if hashlib.md5(f"rp:{i},{j}".encode()).digest()[0] & 1 == 0
        else -1
        for j in range(DIM)
    ]


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project 64-dim embeddings to 16 dims with a deterministic ±1 sign
    matrix — the cheapest dimensionality reduction that approximately
    preserves pairwise ANGLES (JL). Outputs are the raw unscaled sign
    sums: cosine consumers are scale-invariant, and a distance consumer
    applies its own 1/sqrt(RP_DIM). The projection is a pure
    zero-shuffle map; each output dim is an ordered left fold, so both
    engines accumulate in identical order and the doubles hash-match
    exactly. ``tests/test_surprisal.py`` measures the distortion against
    exact cosines."""
    cols = ["vec_id", "label"]
    exprs = []
    for i in range(RP_DIM):
        signs = ", ".join(
            f"CAST({s} AS DOUBLE)" for s in _rp_signs(i)
        )
        exprs.append(
            f"aggregate(zip_with(v, array({signs}), (x, s) -> x * s),"
            f" CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
            f" AS r{i:02d}"
        )
    return _emb(spark, sf_dir).selectExpr(*cols, *exprs)


def _rp_sql() -> str:
    exprs = []
    for i in range(RP_DIM):
        signs = ", ".join(f"CAST({s} AS DOUBLE)" for s in _rp_signs(i))
        exprs.append(
            f"list_reduce([CAST(0 AS DOUBLE)] || "
            f"list_transform(range(1, {DIM + 1}), j -> v[j] * ([{signs}])[j]),"
            f" (acc, x) -> acc + x) AS r{i:02d}"
        )
    return (
        f"WITH emb AS ({DUCK_EMB})\n"
        "SELECT vec_id, label, " + ",\n  ".join(exprs) + "\nFROM emb"
    )


# --- hard-negative mining (contrastive training pairs) -----------------------------


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet mining for embedding training: for EVERY vector, the most
    similar candidate with a DIFFERENT label (the hard negative) and the
    most similar with the SAME label (the positive), plus the margin
    ``pos_cosine - neg_cosine`` a triplet loss would see. Anchors with a
    negative margin are the training signal — the corpus rows where the
    embedding currently ranks a wrong-label item above a right-label
    one.

    The candidate set is the SAME OR-banded LSH structure as
    ``sim_lsh_ann`` — bands on the anchor side uncapped, bucket-capped
    candidate side — so the pair count is O(n * bands * cap), never
    n²: this is the shape that makes all-anchors mining feasible at
    100 TB (exact all-pairs mining is the one thing you never do).
    Anchors whose buckets contain no different-label candidate drop out
    (hard negatives are the product; ``pos_*`` is NULL-able the other
    way)."""
    from pyspark.sql import Window

    emb = _emb(spark, sf_dir).withColumn(
        "norm2", F.expr(SPARK_DOT.format(a="v", b="v"))
    )
    banded = _banded_spark(emb)
    anchors = banded.selectExpr("vec_id AS a_id", "band_id", "band_key")
    cand = _capped_spark(banded).selectExpr(
        "vec_id AS c_id", "band_id", "band_key"
    )
    # Scale note (r8, from the sf3→sf10 exponent probe): α measured
    # ≈ 1.0 here, and that IS this operator's floor — the output is one
    # row per anchor (Θ(n)), and the candidate structure is cap-bounded
    # at ≤ bands·_BUCKET_CAP = 256 scored pairs per anchor. Measured:
    # pairs/anchor = 234.5 at sf3 AND 234.5 at sf10 — the buckets are
    # saturated at the ceiling and the per-anchor work is CONSTANT
    # across a 3.3× scale-up, i.e. the cap holds exactly and total work
    # is 234.5·n (BASELINE.md r8 table). A tighter per-anchor cap was
    # tried and REVERTED: ranking candidates by band collision count
    # collapses the mined-quality floors (top-1 recall 0.45 → 0.17;
    # ties in a 4-band collision count make the cut arbitrary), and
    # trading the mining contract for a constant factor is the wrong
    # side of the bargain. tests/test_pair_growth_bounds.py pins the
    # pairs ≤ n·bands·cap linearity bound structurally.
    pairs = (
        anchors.join(cand, ["band_id", "band_key"])
        .filter(F.col("a_id") != F.col("c_id"))
        .select("a_id", "c_id")
        .distinct()
    )
    av = emb.selectExpr(
        "vec_id AS a_id", "label AS a_label", "v AS avec", "norm2 AS a_norm2"
    )
    cv = emb.selectExpr(
        "vec_id AS c_id", "label AS c_label", "v AS cvec", "norm2 AS c_norm2"
    )
    scored = (
        pairs.join(av, "a_id")
        .join(cv, "c_id")
        .withColumn(
            "cosine",
            F.expr(SPARK_DOT.format(a="avec", b="cvec"))
            / F.sqrt(F.col("a_norm2") * F.col("c_norm2")),
        )
        .select("a_id", "a_label", "c_id", "c_label", "cosine")
    )
    w = Window.partitionBy("a_id").orderBy(
        F.col("cosine").desc(), F.col("c_id").asc()
    )
    neg = (
        scored.filter(F.col("c_label") != F.col("a_label"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .selectExpr(
            "a_id", "a_label", "c_id AS neg_id", "cosine AS neg_cosine"
        )
    )
    pos = (
        scored.filter(F.col("c_label") == F.col("a_label"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .selectExpr("a_id", "c_id AS pos_id", "cosine AS pos_cosine")
    )
    return neg.join(pos, "a_id", "left").selectExpr(
        "a_id", "a_label", "neg_id", "neg_cosine", "pos_id", "pos_cosine",
        "pos_cosine - neg_cosine AS margin",
    )


SQL_HARD_NEGATIVES = f"""
WITH emb AS ({DUCK_EMB}),
normed AS (
  SELECT vec_id, v, {DUCK_DOT.format(a='v', b='v')} AS norm2 FROM emb
),
bands AS ({_DUCK_BANDS}),
capped AS ({_DUCK_CAPPED}),
pairs AS (
  SELECT DISTINCT a.vec_id AS a_id, c.vec_id AS c_id
  FROM bands a JOIN capped c
    ON a.band_id = c.band_id AND a.band_key = c.band_key
   AND a.vec_id <> c.vec_id
),
labeled AS (SELECT vec_id, label FROM embeddings),
scored AS (
  SELECT p.a_id, la.label AS a_label, p.c_id, lc.label AS c_label,
    {DUCK_DOT.format(a='a.v', b='c.v')} / sqrt(a.norm2 * c.norm2) AS cosine
  FROM pairs p
  JOIN normed a ON p.a_id = a.vec_id
  JOIN normed c ON p.c_id = c.vec_id
  JOIN labeled la ON p.a_id = la.vec_id
  JOIN labeled lc ON p.c_id = lc.vec_id
),
neg AS (
  SELECT a_id, a_label, c_id AS neg_id, cosine AS neg_cosine FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY a_id ORDER BY cosine DESC, c_id ASC) AS rn
    FROM scored WHERE c_label <> a_label
  ) WHERE rn = 1
),
pos AS (
  SELECT a_id, c_id AS pos_id, cosine AS pos_cosine FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY a_id ORDER BY cosine DESC, c_id ASC) AS rn
    FROM scored WHERE c_label = a_label
  ) WHERE rn = 1
)
SELECT a_id, a_label, neg_id, neg_cosine, pos_id, pos_cosine,
  pos_cosine - neg_cosine AS margin
FROM neg LEFT JOIN pos USING (a_id)
"""


def register_all() -> None:
    register("dedup_embedding_cosine", q_dedup_embedding_cosine, SQL_DEDUP_EMB_COSINE)
    register("sim_cosine_topk", q_cosine_topk, SQL_COSINE_TOPK)
    register("sim_lsh_ann", q_lsh_ann, SQL_LSH_ANN)
    register("sim_ivf_ann", q_ivf_ann, SQL_IVF_ANN)
    register("emb_label_centroids", q_label_centroids, SQL_LABEL_CENTROIDS)
    register(
        "sim_lsh_ann_multiprobe", q_lsh_ann_multiprobe, _sql_lsh_ann_multiprobe()
    )
    register("emb_random_projection", q_random_projection, _rp_sql())
    register("emb_outliers", q_emb_outliers, SQL_EMB_OUTLIERS)
    register("emb_hard_negatives", q_hard_negatives, SQL_HARD_NEGATIVES)
