"""File sources with explicit schemas (SURVEY.md §2.A).

The reference's CSV-replay source (A5, ``impala_query_sizing.py:128-131``)
reads a prior run's output via ``csv.DictReader`` with everything stringly;
here the replay read is schema-enforced and columnar-friendly. Parquet is
the default interchange format (pushdown + pruning for free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..memo import MEMO
from ..schemas import QUERY_HISTORY_SCHEMA


# fan-out decision per (path, parallelism, rows_per_task): tiny
# driver-side footer read, done once per input per process (memo owner
# "fanout" in the shared registry, memo.py)

# below this row count the per-row work above a 1-task scan is trivial;
# at/above it (sf0.1 ships 2 000-600 000-row single-row-group files) the
# expression chains above the scan are the measured bottleneck
_FANOUT_MIN_ROWS = 2000

# Per-task row targets by CONSUMER cost class (r15: the r14 flat
# `fan = cpus` width taxed every cheap chain ~0.2-1 s at local[32] —
# a 5 000-row table got 32 partitions of 156 rows, and the sizing
# family re-paid 32-wide scheduling on every cached-qh read; the
# measured 8c-vs-32c scaling ratios ≈ 1 proved the width bought
# nothing there). The footer only knows rows; the CALLER knows its
# per-row cost, so the width derives from both (guide §2.2/§2.5:
# size partitions so per-task work dominates scheduling overhead):
#   heavy — hash/tokenize/shingle/vector/image-kernel chains,
#           ~0.1-1 ms+/row: 64 rows/task reaches full width on any
#           input big enough to matter (5 000 docs -> 32 tasks);
#   light — columnar expression/aggregate chains, ~us/row: 16 Ki
#           rows/task (600 k-row lineitem -> full width, 100 k-row
#           events -> 6, a 15 k-row dim -> untouched).
ROWS_PER_TASK_HEAVY = 64
ROWS_PER_TASK_LIGHT = 16 * 1024
# collapsing consumers (r15): queries whose pipeline head is itself a
# collapsing partial aggregate (CUBE cell pre-agg, COUNT DISTINCT,
# few-group GROUP BY) or a wide shuffle (a window's partitionBy) do all
# their real work AT or AFTER their first exchange — the chain above
# the scan is a trivial projection, so a fan-out exchange only moves
# raw rows the very next operator would have collapsed or reshuffled
# anyway (guide §2.3: aggregate before you shuffle). The sentinel makes
# `rows // rows_per_task` zero for any input, i.e. never fan. Measured
# at sf0.1 (min-of-4, warm): rel_cube 0.97→0.46, rel_approx_distinct's
# distinct aggs 2.0→1.1 each, rel_gini 0.98→0.60, rel_drift_psi
# 0.78→0.54, rel_markov_transitions 0.78→0.60; rel_grouping_sets keeps
# its fan (Expand ×3 per raw row measurably benefits: 0.52 vs 0.58).
ROWS_PER_TASK_COLLAPSING = 1 << 62


def _scan_fanout(path: str, cpus: int,
                 rows_per_task: int = ROWS_PER_TASK_LIGHT) -> int:
    """Round-robin fan-out width for a small/unsplittable parquet input,
    or 0 to leave the scan alone.

    Parquet splits at ROW-GROUP boundaries, so a single-file,
    single-row-group table (how every sandbox testdata table ships) scans
    as ONE task no matter what ``maxPartitionBytes`` says — and every
    CPU-heavy expression chain above it (MinHash charfold hashing,
    tokenization, dot products, BMP decode kernels) runs single-threaded
    until the first exchange (measured: the 64-perm signature build spent
    4.8 s in 1 task with 31 cores idle at sf0.1). Guide §2.5: "one huge
    unsplittable file … repartition immediately after the read".

    Scale-adaptive rule, derived from the input (not a local constant):
    iff the input's real splittability — row groups summed across its
    files — is below half the core count AND the table is big enough for
    per-row work to matter, repartition to ``rows // rows_per_task``
    partitions, capped at the scheduler parallelism (r15: width scales
    with the input and the consumer's per-row cost, not a flat core
    count — see ``ROWS_PER_TASK_*``). At any real scale a table has row
    groups ≫ cores, the footer loop exits early, and the scan is left
    untouched, so the guard can never shuffle data that would be
    expensive to move. Non-local paths (no readable footer) are left
    untouched.
    """
    key = ("fanout", path, cpus, rows_per_task)
    hit = MEMO.get(key)
    if hit is not None:
        return hit
    fan = 0
    try:
        import pyarrow.parquet as pq
        from pathlib import Path

        p = Path(path)
        files = sorted(f for f in p.rglob("*") if f.is_file()
                       and not f.name.startswith(("_", "."))) if p.is_dir() else [p]
        rows = groups = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            rows += md.num_rows
            groups += md.num_row_groups
            if groups >= cpus:
                break
        if groups < max(2, cpus // 2) and rows >= _FANOUT_MIN_ROWS:
            fan = min(cpus, rows // rows_per_task)
            if fan < 2:
                fan = 0
    except Exception:  # noqa: BLE001 — unreadable/remote input: no fan-out
        fan = 0
    MEMO[key] = fan
    return fan


def read_input(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    rows_per_task: int = ROWS_PER_TASK_LIGHT,
) -> DataFrame:
    """The repo-wide table reader: a parquet scan, fanned out when (and
    only when) the input itself cannot split, to a width scaled by input
    rows and the consumer's per-row cost class (``rows_per_task`` —
    pass :data:`ROWS_PER_TASK_HEAVY` above CPU-heavy kernel chains).

    Predicate pushdown and column pruning are unaffected: Catalyst
    pushes filters and prunes columns THROUGH a Repartition node into
    the scan, so ``PushedFilters``/``ReadSchema`` read the same and the
    round-robin exchange moves only surviving, pruned rows."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    fan = _scan_fanout(
        f"{sf_dir}/{name}.parquet",
        spark.sparkContext.defaultParallelism,
        rows_per_task,
    )
    return df.repartition(fan) if fan else df


def load_events(
    spark: SparkSession,
    sf_dir: str,
    rows_per_task: int = ROWS_PER_TASK_LIGHT,
) -> DataFrame:
    """Read the ``events`` table with ``ts`` normalized to epoch-NANOS
    BIGINT, whatever the parquet physical type is.

    Testdata generations have shipped ``ts`` as parquet TIMESTAMP(NANOS)
    (readable only via ``spark.sql.legacy.parquet.nanosAsLong`` → raw
    long) and as TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Downstream
    operators do exact integer arithmetic on nanos, and the DuckDB
    oracles use ``epoch_ns(ts)`` which handles either timestamp width —
    so the one schema-dependent branch lives here. The session timezone
    is pinned to UTC (session.py), making the NTZ→instant cast the
    identity mapping DuckDB's naive-as-UTC ``epoch_ns`` applies.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    e = read_input(spark, sf_dir, "events", rows_per_task)
    ts_type = dict(e.dtypes).get("ts")
    if ts_type in ("timestamp", "timestamp_ntz"):
        e = e.withColumn(
            "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
        )
    return e


def read_query_history_csv(spark: SparkSession, path: str) -> DataFrame:
    """EP2 replay source (A5): header-driven CSV with the 12-column replay
    schema enforced (``impala_query_sizing.py:172-187``).

    Fail-fast on malformed fields: each field is read as text and cast to
    its declared type, and a non-empty field that does not parse
    (``12GB`` in a DOUBLE column) raises on the first action that reads
    it, instead of the default PERMISSIVE mode's silent NULL (the
    reference's silent try/except, ``impala_query_sizing.py:189-200``,
    SURVEY.md I1). An empty field, or a column the file does not have,
    is NULL; Spark's own FAILFAST mode would reject such a short row
    too. CSV column pruning means only the columns a plan reads are
    parsed and checked."""
    text = T.StructType(
        [T.StructField(f.name, T.StringType()) for f in QUERY_HISTORY_SCHEMA.fields]
    )
    raw = spark.read.option("header", True).schema(text).csv(path)
    return raw.selectExpr(*[_checked_cast(f) for f in QUERY_HISTORY_SCHEMA.fields])


def _checked_cast(field: T.StructField) -> str:
    """SQL text casting the text column ``field.name`` to its declared
    type: NULL stays NULL, a value that does not parse raises."""
    n, t = field.name, field.dataType.simpleString().upper()
    if t == "STRING":
        return n
    return (
        f"coalesce(try_cast({n} AS {t}),"
        f" if({n} IS NULL, NULL, raise_error(concat('{n}=', {n}, ' is not a {t}'))))"
        f" AS {n}"
    )


def read_query_history_with_quarantine(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """CSV replay with corrupt-record QUARANTINE instead of the
    reference's silent try/except partial state (``impala_query_sizing
    .py:189-200``'s I1, replaced by fail-fast in the main path): rows
    that violate the declared schema land in a quarantine frame carrying
    the raw line, the clean frame holds only fully-parsed rows — both
    sides of every malformed input are accounted for, none silently
    dropped. PERMISSIVE mode keeps the scan single-pass at any scale
    (FAILFAST dies on the first bad row; DROPMALFORMED loses data
    unaccountably)."""
    # build a FRESH StructType: StructType.add() mutates the receiver,
    # so calling it on the shared module constant would permanently grow
    # every other reader's schema
    schema = T.StructType(
        list(QUERY_HISTORY_SCHEMA.fields)
        + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    raw = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        # PERMISSIVE's corrupt column is lazily populated; materialize
        # the split once so both frames agree on one parse
        .cache()
    )
    good = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    quarantine = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    return good, quarantine


def read_query_history(spark: SparkSession, path: str, fmt: str = "csv") -> DataFrame:
    """Multi-format replay source: the same enforced schema over csv /
    json / parquet / orc (schema declared, never inferred — a 100 TB scan
    with inference is two scans)."""
    if fmt == "csv":
        return read_query_history_csv(spark, path)
    reader = spark.read.schema(QUERY_HISTORY_SCHEMA)
    if fmt == "json":
        return reader.json(path)
    if fmt == "parquet":
        return reader.parquet(path)
    if fmt == "orc":
        return reader.orc(path)
    raise ValueError(f"unsupported replay format: {fmt}")
