"""Text-analysis + deduplication operators over the ``documents`` table —
the training-data-pipeline extensions (SURVEY.md §7.1 M8).

Everything on the hot path is a native Spark expression (higher-order
array functions run inside codegen — no Python UDFs): language-ID by
marker-token counting, quality scoring, token counting, rolling-hash
fingerprinting, exact dedup, word-shingle Jaccard, MinHash-LSH and
SimHash near-dup candidate generation.

Scale notes (100 TB framing):
- exact dedup: hash-groupBy, one shuffle on the digest — the canonical
  pattern.
- n-gram Jaccard: explode distinct shingles → self-equi-join on shingle →
  count-based Jaccard. The join is shingle-partitioned (no cross join);
  hot shingles would be salted/filtered by document frequency at scale.
- MinHash-LSH: signature is a per-row expression; candidates come from an
  equi-join on (band, band-key) — the same plan shape as
  ``ml.feature.MinHashLSH.approxSimilarityJoin``, kept explicit here so
  the banding/candidate semantics are visible and oracle-checkable.
- SimHash: explode tokens → 16 conditional sums per doc → nibble-band
  equi-join, Hamming ≤ 3 filter via bit_count(xor).

Numeric determinism: all hashes are integer polynomial folds (the same
fold both engines); ratios are single double divisions of identical ints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries_ext import register
from .smallplan import small_plan_mode
from ..memo import MEMO
from ..sources.files import ROWS_PER_TASK_HEAVY, read_input

_MOD = 1_000_000_000_000_000  # 1e15: keeps acc*31+x < 2^63


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_input(spark, sf_dir, "documents", ROWS_PER_TASK_HEAVY)


# --- shared expression twins ---------------------------------------------------

# polynomial rolling hash over characters: fold (acc*31 + ascii(c)) % 1e15
def spark_charfold(s: str) -> str:
    return (
        f"aggregate(transform(split({s}, ''), c -> cast(ascii(c) as bigint)), "
        f"cast(0 as bigint), (acc, x) -> (acc * 31 + x) % {_MOD})"
    )


def duck_charfold(s: str) -> str:
    return (
        f"list_reduce([CAST(0 AS BIGINT)] || "
        f"list_transform(string_split({s}, ''), c -> CAST(ascii(c) AS BIGINT)), "
        f"(acc, x) -> (acc * 31 + x) % {_MOD})"
    )


SPARK_TOKENS = "split(text, ' ')"
DUCK_TOKENS = "string_split(text, ' ')"

# word 3-gram shingles (guarded for short docs)
SPARK_SHINGLES = (
    "CASE WHEN size(tokens) < 3 THEN array(concat_ws(' ', tokens)) "
    "ELSE transform(sequence(1, size(tokens) - 2), "
    "i -> concat_ws(' ', slice(tokens, i, 3))) END"
)
DUCK_SHINGLES = (
    "CASE WHEN len(tokens) < 3 THEN [array_to_string(tokens, ' ')] "
    "ELSE list_transform(range(1, len(tokens) - 1), "
    "i -> array_to_string(tokens[i:i+2], ' ')) END"
)

LANG_MARKERS = {
    "en": ["the", "of", "and", "a", "in"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "y", "en", "de"],
    "zh": ["的", "是", "在", "了", "和"],
}
STOPWORDS = LANG_MARKERS["en"]


def _arr(words: list[str]) -> str:
    return "array(" + ", ".join(f"'{w}'" for w in words) + ")"


def _lst(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


# --- text_stats: quality scoring -----------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .withColumn("tokens", F.expr(SPARK_TOKENS))
        .selectExpr(
            "doc_id",
            "CAST(size(tokens) AS BIGINT) AS n_tokens",
            "CAST(size(array_distinct(tokens)) AS BIGINT) AS n_distinct",
            "aggregate(transform(tokens, t -> length(t)), cast(0 as bigint),"
            " (acc, x) -> acc + x) AS total_token_chars",
            f"CAST(size(filter(tokens, t -> array_contains({_arr(STOPWORDS)}, t)))"
            " AS BIGINT) AS n_stopwords",
        )
        .selectExpr(
            "doc_id", "n_tokens", "n_distinct", "total_token_chars",
            "total_token_chars / n_tokens AS avg_token_len",
            "n_stopwords / n_tokens AS stopword_ratio",
            "n_distinct / n_tokens AS distinct_ratio",
            "CAST(0.4 AS DOUBLE) * (n_stopwords / n_tokens)"
            " + CAST(0.3 AS DOUBLE) * (n_distinct / n_tokens)"
            " + CAST(0.3 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),"
            " n_tokens / CAST(100.0 AS DOUBLE)) AS quality_score",
        )
    )


SQL_TEXT_STATS = f"""
SELECT doc_id, n_tokens, n_distinct, total_token_chars,
  total_token_chars / n_tokens AS avg_token_len,
  n_stopwords / n_tokens AS stopword_ratio,
  n_distinct / n_tokens AS distinct_ratio,
  CAST(0.4 AS DOUBLE) * (n_stopwords / n_tokens)
    + CAST(0.3 AS DOUBLE) * (n_distinct / n_tokens)
    + CAST(0.3 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),
      n_tokens / CAST(100.0 AS DOUBLE)) AS quality_score
FROM (
  SELECT doc_id,
    len(tokens) AS n_tokens,
    len(list_distinct(tokens)) AS n_distinct,
    list_reduce([CAST(0 AS BIGINT)] || list_transform(tokens, t -> CAST(length(t) AS BIGINT)),
      (acc, x) -> acc + x) AS total_token_chars,
    len(list_filter(tokens, t -> list_contains({_lst(STOPWORDS)}, t))) AS n_stopwords
  FROM (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents)
)
"""


# --- text_langid -----------------------------------------------------------------


def _langid_hit_cols() -> dict[str, object]:
    return {
        f"hits_{lang}": F.expr(
            f"CAST(size(filter(tokens, t -> array_contains({_arr(m)}, t))) AS BIGINT)"
        )
        for lang, m in LANG_MARKERS.items()
    }


def _langid_case() -> str:
    """Deterministic argmax CASE over the hits_<lang> columns: first
    language (in declared order) with max hits. Dialect-portable."""
    langs = list(LANG_MARKERS)
    pred = "CASE "
    for lang in langs:
        conds = " AND ".join(
            f"hits_{lang} >= hits_{o}" for o in langs if o != lang
        )
        pred += f"WHEN {conds} THEN '{lang}' "
    pred += "END"
    return pred


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    hit_cols = _langid_hit_cols()
    langs = list(LANG_MARKERS)
    pred = _langid_case()
    return (
        _docs(spark, sf_dir)
        .withColumn("tokens", F.expr(SPARK_TOKENS))
        .withColumns(hit_cols)
        .withColumn("predicted_lang", F.expr(pred))
        .selectExpr(
            "doc_id", "lang", *[f"hits_{lang}" for lang in langs],
            "predicted_lang",
            "CAST(predicted_lang = lang AS BIGINT) AS is_correct",
        )
    )


def _langid_sql() -> str:
    langs = list(LANG_MARKERS)
    hits = ",\n    ".join(
        f"len(list_filter(tokens, t -> list_contains({_lst(m)}, t))) AS hits_{lang}"
        for lang, m in LANG_MARKERS.items()
    )
    pred = _langid_case()
    return f"""
SELECT doc_id, lang, {', '.join(f'hits_{lang}' for lang in langs)},
  {pred} AS predicted_lang,
  CAST(({pred}) = lang AS BIGINT) AS is_correct
FROM (
  SELECT doc_id, lang, {hits}
  FROM (SELECT doc_id, lang, {DUCK_TOKENS} AS tokens FROM documents)
)
"""


# --- token counting ---------------------------------------------------------------


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .withColumn("tokens", F.expr(SPARK_TOKENS))
        .selectExpr(
            "doc_id",
            "CAST(size(tokens) AS BIGINT) AS n_ws_tokens",
            "CAST(regexp_count(text, '[a-z]+') AS BIGINT) AS n_alpha_runs",
            "CAST(regexp_count(text, '[0-9]+') AS BIGINT) AS n_digit_runs",
            "CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_subword_est",
        )
    )


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
  len({DUCK_TOKENS}) AS n_ws_tokens,
  len(regexp_extract_all(text, '[a-z]+')) AS n_alpha_runs,
  len(regexp_extract_all(text, '[0-9]+')) AS n_digit_runs,
  CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_subword_est
FROM documents
"""


# BPE-ish piece tokenizer: the standard pre-tokenization alternation
# (letter runs | digit runs | single non-space symbol). The classes are
# disjoint, so Java-regex (Spark) and RE2 (DuckDB) alternation agree
# exactly — no leftmost-longest ambiguity to diverge on.
_BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


# --- BPE: iterative pair merges ---------------------------------------------------
#
# The actual BPE training loop (Sennrich et al. 2016, arXiv:1508.07909
# — public), not just the pre-tokenization head: count adjacent symbol
# pairs weighted by piece frequency, merge the argmax pair (ties break
# lexically on (l, r)), repeat. The classic trainer trick keeps this
# scale-free: rounds operate on the DISTINCT piece vocabulary with
# counts — corpus size only affects the initial groupBy; each merge
# round touches |vocab| rows regardless of corpus bytes.
#
# Greedy left-to-right non-overlapping merge semantics ("aaaa" with
# pair (a,a) → [aa, aa], not [aa, a, a]) are expressed two ways that
# are provably equivalent:
# - Spark: an `aggregate` fold over the symbol array (append, or fuse
#   with the last element when it equals l and the current equals r;
#   the fused element l||r can never re-fuse because l||r != l);
# - DuckDB: gaps-and-islands — a candidate match-start at position i is
#   ACTIVE iff its offset within its run of consecutive candidate
#   starts is even (a merge consumes i+1, invalidating the next start).
# The pure-Python reference in tests/test_bpe_merges.py differential-
# tests both against the textbook loop.


def _bpe_merge_round_sql(i: int) -> str:
    """One unrolled BPE round: pair counts → argmax → gaps-and-islands
    greedy merge, all over ``w{i-1}`` → ``w{i}``."""
    return f"""
p{i} AS MATERIALIZED (
  SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS pair_n FROM (
    SELECT syms[j] AS l, syms[j + 1] AS r, cnt
    FROM (SELECT syms, cnt, unnest(generate_series(1, len(syms) - 1)) AS j
          FROM w{i - 1} WHERE len(syms) >= 2)
  ) GROUP BY 1, 2
),
b{i} AS MATERIALIZED (
  SELECT l, r, l || r AS m, pair_n FROM p{i}
  ORDER BY pair_n DESC, l ASC, r ASC LIMIT 1
),
e{i} AS MATERIALIZED (
  SELECT piece, cnt, j AS pos, syms[j] AS sym,
    (j < len(syms) AND syms[j] = (SELECT l FROM b{i})
      AND syms[j + 1] = (SELECT r FROM b{i})) AS cand
  FROM (SELECT piece, cnt, syms, unnest(generate_series(1, len(syms))) AS j
        FROM w{i - 1})
),
a{i} AS MATERIALIZED (
  SELECT piece, cnt, pos, sym,
    cand AND (pos - MIN(pos) OVER (PARTITION BY piece, grp)) % 2 = 0 AS active
  FROM (
    SELECT *, CASE WHEN cand THEN pos - ROW_NUMBER() OVER (
      PARTITION BY piece, cand ORDER BY pos) END AS grp
    FROM e{i}
  )
),
w{i} AS MATERIALIZED (
  SELECT piece, cnt,
    list(CASE WHEN active THEN sym || (SELECT r FROM b{i}) ELSE sym END
         ORDER BY pos) AS syms
  FROM (
    SELECT *, COALESCE(LAG(active) OVER (PARTITION BY piece ORDER BY pos),
      FALSE) AS dropped
    FROM a{i}
  )
  WHERE NOT dropped
  GROUP BY piece, cnt
)"""


# --- BPE: convergent training (driver loop, r5 verdict #3) -------------------------
#
# The unrolled-3-round form above is the oracle-shaped replay; a real
# trainer runs to a TARGET merge count and stops early when the best
# pair's frequency falls under a minimum (merging a once-seen pair
# never helps compression) — the same unrolled→convergent promotion
# dedup_components made (cc_labels_converged). The driver loop does one
# O(1)-row action per round (the argmax pair — the cc digest-check
# precedent) and eagerly checkpoints the vocabulary each round so plan
# depth stays constant. The oracle replays ALL target rounds as CTEs
# and gates the output to the contiguous prefix of rounds whose best
# pair meets the minimum — exactly the rounds the driver executed.

_BPE_TARGET_MERGES = 16
_BPE_MIN_PAIR_N = 2


def _bpe_pair_counts(words: DataFrame) -> DataFrame:
    return (
        words.filter(F.expr("size(syms) >= 2"))
        .selectExpr(
            "cnt",
            "explode(transform(sequence(0, size(syms) - 2), j ->"
            " struct(element_at(syms, j + 1) AS l,"
            " element_at(syms, j + 2) AS r))) AS p",
        )
        .groupBy("p.l", "p.r")
        .agg(F.sum("cnt").cast("long").alias("pair_n"))
    )


# One trained (words, merges) per (application, sf_dir, target, min):
# the two converged BPE queries (merge table + encode) retrained the
# IDENTICAL driver loop twice per bench pass / oracle session. The loop
# output is deterministic, so it is memo owner "bpe" in the shared
# registry (memo.py; canonical bench order bills the build to its first
# toucher, text_bpe_merges_converged); bench.py clears it between
# passes so every pass still pays the full training inside the timed
# region. Values are a localCheckpoint (valid for the SparkContext's
# lifetime) + a driver-side list.


def _bpe_trained_converged(
    spark: SparkSession,
    sf_dir: str,
    target: int = _BPE_TARGET_MERGES,
    min_pair_n: int = _BPE_MIN_PAIR_N,
):
    """Train up to ``target`` merges, stopping at the first round whose
    best pair occurs fewer than ``min_pair_n`` times (or no pair at
    all). Returns ``(words, merges)`` — the post-merge vocabulary frame
    and the driver-side merge table rows ``(round, lhs, rhs, merged,
    pair_n)``.

    Round shape (r14 optimization, guide §1.2 "per-task work" after the
    algorithm is right): ONE Spark job per merge round instead of two.
    The round's argmax pair rides the broadcast side of the merge job
    (TakeOrderedAndProject → 1-row BroadcastNestedLoopJoin build) and
    the checkpointed vocabulary carries the chosen ``(l, r, m, pair_n)``
    on every row, so the driver reads the merge row back with a
    first() over the ALREADY-materialized RDD (no recompute) rather
    than a second full pair-count job. The stop rule is folded into the
    merge CASE — an under-minimum (or absent) best pair leaves ``syms``
    untouched, so breaking after the read keeps the vocabulary
    bit-identical to the two-job form that broke BEFORE merging. At toy
    scale each vocab-sized job is ~0.2 s of fixed scheduling/planning
    cost, so halving the job count halves the loop; at 100 TB scale the
    same fusion halves the number of cluster-wide barriers per round."""
    key = ("bpe", spark.sparkContext.applicationId, sf_dir, target, min_pair_n)
    memo = MEMO.get(key)
    if memo is not None:
        return memo
    words = (
        _docs(spark, sf_dir)
        .selectExpr(f"explode(regexp_extract_all(text, '{_BPE_RE}', 0)) AS piece")
        .groupBy("piece")
        .agg(F.count("*").cast("long").alias("cnt"))
        .selectExpr("piece", "cnt", "regexp_extract_all(piece, '.', 0) AS syms")
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for i in range(1, target + 1):
        best = (
            _bpe_pair_counts(words)
            .orderBy(F.col("pair_n").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .selectExpr("l", "r", "concat(l, r) AS m", "pair_n")
        )
        cand = (
            words.join(F.broadcast(best), F.lit(True), "left")
            .selectExpr(
                "piece", "cnt",
                f"CASE WHEN l IS NULL OR pair_n < {min_pair_n} THEN syms"
                " ELSE aggregate(syms, CAST(array() AS array<string>), (acc, s) ->"
                " CASE WHEN size(acc) > 0 AND element_at(acc, -1) = l AND s = r"
                " THEN concat(slice(acc, 1, size(acc) - 1), array(m))"
                " ELSE concat(acc, array(s)) END) END AS syms",
                "l", "r", "m", "pair_n",
            )
            .localCheckpoint(eager=True)
        )
        row = cand.select("l", "r", "m", "pair_n").first()
        words = cand.select("piece", "cnt", "syms")
        if row is None or row["l"] is None or row["pair_n"] < min_pair_n:
            break
        merges.append((i, row["l"], row["r"], row["m"], row["pair_n"]))
    MEMO[key] = (words, merges)
    return words, merges


def q_bpe_merges_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergent-trainer merge table: ``(round, lhs, rhs, merged,
    pair_n, rounds_executed)`` — ``rounds_executed`` is the witness for
    how many rounds actually ran before the target/stop rule ended
    training."""
    _, merges = _bpe_trained_converged(spark, sf_dir)
    n = len(merges)
    return spark.createDataFrame(
        [(r, lhs, rhs, m, pn, n) for r, lhs, rhs, m, pn in merges],
        "round long, lhs string, rhs string, merged string,"
        " pair_n long, rounds_executed long",
    )


def q_bpe_encode_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`q_bpe_encode` semantics over the CONVERGED trainer's
    vocabulary — the merge table the driver loop actually produced, not
    the fixed 3-round unroll."""
    words, _ = _bpe_trained_converged(spark, sf_dir)
    vocab = words.selectExpr(
        "piece",
        "CAST(length(piece) AS BIGINT) AS n_before",
        "CAST(size(syms) AS BIGINT) AS n_after",
    )
    doc_pieces = (
        _docs(spark, sf_dir)
        .selectExpr(
            "doc_id",
            f"explode(regexp_extract_all(text, '{_BPE_RE}', 0)) AS piece",
        )
        .groupBy("doc_id", "piece")
        .agg(F.count("*").cast("long").alias("n"))
    )
    return (
        doc_pieces.join(F.broadcast(vocab), "piece")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_pieces"),
            F.sum(F.col("n") * F.col("n_before")).cast("long").alias("n_syms_before"),
            F.sum(F.col("n") * F.col("n_after")).cast("long").alias("n_syms_after"),
        )
        .selectExpr(
            "doc_id", "n_pieces", "n_syms_before", "n_syms_after",
            "n_syms_after / CAST(n_syms_before AS DOUBLE) AS compression",
        )
    )


def _bpe_converged_cte(target: int) -> str:
    """The unrolled-CTE replay of ``target`` rounds plus the stop-rule
    gate: ``keep`` is the contiguous prefix of rounds whose best pair
    meets ``_BPE_MIN_PAIR_N`` — beyond the driver's stopping point the
    replayed rounds diverge (they apply the under-minimum merge), but
    the gate excludes every such round, so the emitted prefix is
    exactly the executed training run. An empty ``b{{i}}`` (no pairs
    left) leaves ``w{{i}}`` unchanged (NULL scalar subqueries make
    ``cand`` NULL -> CASE falls through) and breaks contiguity, so the
    gate ends there too."""
    parts = [
        f"""w0 AS MATERIALIZED (
  SELECT piece, cnt, regexp_extract_all(piece, '.') AS syms
  FROM (
    SELECT piece, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(regexp_extract_all(text, '{_BPE_RE}')) AS piece
          FROM documents)
    GROUP BY piece
  )
)"""
    ]
    parts += [_bpe_merge_round_sql(i).strip() for i in range(1, target + 1)]
    allb = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS round, l, r, m, pair_n FROM b{i}"
        for i in range(1, target + 1)
    )
    parts.append(
        f"""allb AS ({allb}),
gated AS (
  SELECT round, l, r, m, pair_n,
    MIN(pair_n) OVER (ORDER BY round) AS cum_min,
    ROW_NUMBER() OVER (ORDER BY round) AS rn
  FROM allb
),
keep AS (
  SELECT round, l, r, m, pair_n FROM gated
  WHERE round = rn AND cum_min >= {_BPE_MIN_PAIR_N}
)"""
    )
    return "WITH " + ",\n".join(parts)


def _sql_bpe_merges_converged() -> str:
    return f"""{_bpe_converged_cte(_BPE_TARGET_MERGES)}
SELECT round, l AS lhs, r AS rhs, m AS merged, pair_n,
  (SELECT COUNT(*) FROM keep) AS rounds_executed
FROM keep
"""


def _sql_bpe_encode_converged() -> str:
    tagged = " UNION ALL ".join(
        f"SELECT {k} AS k, piece, cnt, syms FROM w{k}"
        for k in range(_BPE_TARGET_MERGES + 1)
    )
    return f"""{_bpe_converged_cte(_BPE_TARGET_MERGES)},
final AS (
  SELECT piece, syms FROM ({tagged})
  WHERE k = (SELECT COUNT(*) FROM keep)
),
docp AS (
  SELECT doc_id, piece, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '{_BPE_RE}')) AS piece
        FROM documents)
  GROUP BY doc_id, piece
)
SELECT doc_id,
  CAST(SUM(n) AS BIGINT) AS n_pieces,
  CAST(SUM(n * len(piece)) AS BIGINT) AS n_syms_before,
  CAST(SUM(n * len(syms)) AS BIGINT) AS n_syms_after,
  SUM(n * len(syms)) / CAST(SUM(n * len(piece)) AS DOUBLE) AS compression
FROM docp JOIN final USING (piece)
GROUP BY doc_id
"""


# --- fingerprinting -----------------------------------------------------------------


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).selectExpr(
        "doc_id",
        f"{spark_charfold('lower(substring(text, 1, 64))')} AS fp_prefix64",
        f"{spark_charfold('lower(text)')} AS fp_full",
    )


SQL_FINGERPRINT = f"""
SELECT doc_id,
  {duck_charfold('lower(substring(text, 1, 64))')} AS fp_prefix64,
  {duck_charfold('lower(text)')} AS fp_full
FROM documents
"""


# --- text_profile: the four text-analysis ops in ONE pass -----------------------


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality stats + language-ID + token counts + fingerprint as a
    single zero-shuffle map over ``documents`` — the shape a 100 TB
    per-document profiling pass wants (one scan, all features, pure
    codegen expressions). The standalone ``text_stats``, ``text_langid``,
    ``text_token_count`` and ``text_fingerprint`` rows use the same
    expression constants, so they cannot drift."""
    return (
        _docs(spark, sf_dir)
        .withColumn("tokens", F.expr(SPARK_TOKENS))
        .withColumns(_langid_hit_cols())
        .withColumn("predicted_lang", F.expr(_langid_case()))
        .selectExpr(
            "doc_id", "lang",
            "CAST(size(tokens) AS BIGINT) AS n_tokens",
            "CAST(size(array_distinct(tokens)) AS BIGINT) AS n_distinct",
            "aggregate(transform(tokens, t -> length(t)), cast(0 as bigint),"
            " (acc, x) -> acc + x) AS total_token_chars",
            f"CAST(size(filter(tokens, t -> array_contains({_arr(STOPWORDS)}, t)))"
            " AS BIGINT) AS n_stopwords",
            "CAST(regexp_count(text, '[a-z]+') AS BIGINT) AS n_alpha_runs",
            "CAST(regexp_count(text, '[0-9]+') AS BIGINT) AS n_digit_runs",
            "CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_subword_est",
            "predicted_lang",
            "CAST(predicted_lang = lang AS BIGINT) AS is_correct",
            f"{spark_charfold('lower(substring(text, 1, 64))')} AS fp_prefix64",
        )
        .selectExpr(
            "doc_id", "lang", "n_tokens", "n_distinct", "total_token_chars",
            "total_token_chars / n_tokens AS avg_token_len",
            "n_stopwords / n_tokens AS stopword_ratio",
            "n_distinct / n_tokens AS distinct_ratio",
            "CAST(0.4 AS DOUBLE) * (n_stopwords / n_tokens)"
            " + CAST(0.3 AS DOUBLE) * (n_distinct / n_tokens)"
            " + CAST(0.3 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),"
            " n_tokens / CAST(100.0 AS DOUBLE)) AS quality_score",
            "n_alpha_runs", "n_digit_runs", "n_subword_est",
            "predicted_lang", "is_correct", "fp_prefix64",
        )
    )


def _profile_sql() -> str:
    """Oracle: join of the four standalone oracles on doc_id (the oracle
    only has to produce identical VALUES; its plan shape is irrelevant)."""
    langid = _langid_sql()
    return f"""
WITH s AS ({SQL_TEXT_STATS}),
l AS ({langid}),
t AS ({SQL_TOKEN_COUNT}),
f AS ({SQL_FINGERPRINT})
SELECT s.doc_id, l.lang, s.n_tokens, s.n_distinct, s.total_token_chars,
  s.avg_token_len, s.stopword_ratio, s.distinct_ratio, s.quality_score,
  t.n_alpha_runs, t.n_digit_runs, t.n_subword_est,
  l.predicted_lang, l.is_correct, f.fp_prefix64
FROM s
JOIN l ON s.doc_id = l.doc_id
JOIN t ON s.doc_id = t.doc_id
JOIN f ON s.doc_id = f.doc_id
"""


# --- exact dedup ----------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .withColumn("text_hash", F.md5(F.encode("text", "UTF-8")))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


def q_dedup_soft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (SoftDeDup / D4-style): instead of DROPPING duplicate
    documents, every copy survives with sampling weight 1/n_copies, so
    a training sampler sees each distinct text with equal expected mass
    while noisy near-boundary dedup decisions cost reweighting, not
    data loss. Clusters are the exact-hash groups of
    :func:`q_dedup_exact`; the weight is integer micro-units (exact
    cross-engine: floor(1e6/n + 0.5) on a BIGINT count). Shape: one
    hash groupBy + one join back on the hash — both on the same key, so
    AQE coalesces them into one exchange; linear at any corpus size.
    ``is_canonical`` marks the min-doc_id member, making hard dedup a
    downstream filter rather than a separate pass."""
    docs = _docs(spark, sf_dir).withColumn(
        "text_hash", F.md5(F.encode("text", "UTF-8"))
    )
    clusters = docs.groupBy("text_hash").agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    )
    return docs.join(clusters, "text_hash").selectExpr(
        "doc_id", "text_hash", "n_copies",
        "CAST(floor(1000000.0 / n_copies + 0.5) AS BIGINT) AS weight_micro",
        "CAST(doc_id = keep_id AS BIGINT) AS is_canonical",
    )


SQL_DEDUP_SOFT = """
WITH docs AS (SELECT doc_id, md5(text) AS text_hash FROM documents),
clusters AS (
  SELECT text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
  FROM docs GROUP BY 1
)
SELECT doc_id, text_hash, n_copies,
  CAST(floor(1000000.0 / n_copies + 0.5) AS BIGINT) AS weight_micro,
  CAST(doc_id = keep_id AS BIGINT) AS is_canonical
FROM docs JOIN clusters USING (text_hash)
"""


# --- chunk-level dedup (paragraph dedup's shape on separator-free text) -----------

_CHUNK_TOKENS = 8


def q_dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup: drop text CHUNKS that repeat across documents
    (boilerplate headers/footers/navigation in a real crawl) while
    keeping the unique remainder — the paragraph-dedup pass of CCNet/
    Dolma-style pipelines. The synthetic corpus has no separator
    structure, so chunks are fixed 8-token windows (measured non-vacuous:
    153/3434 distinct chunks shared at sf0.01); swapping the chunker for
    a paragraph split changes one expression, not the pipeline.

    Shape: chunk explode → md5 chunk key → document-frequency per key
    (the same inverted-index-with-df-cut skeleton as dedup_ngram_jaccard)
    → join back → per-doc keep stats. Per-doc output keeps this a
    bounded, shuffle-twice plan at any corpus size."""
    chunks = (
        _docs(spark, sf_dir)
        .withColumn("tokens", F.expr(SPARK_TOKENS))
        .selectExpr(
            "doc_id",
            f"posexplode(transform("
            f" sequence(0, CAST(ceil(size(tokens) / {_CHUNK_TOKENS}.0) AS INT) - 1),"
            f" i -> struct("
            f"  md5(encode(concat_ws(' ',"
            f"   slice(tokens, i * {_CHUNK_TOKENS} + 1, {_CHUNK_TOKENS})), 'utf-8')) AS ck,"
            f"  size(slice(tokens, i * {_CHUNK_TOKENS} + 1, {_CHUNK_TOKENS})) AS cn"
            f" ))) AS (pos, ch)",
        )
        .select("doc_id", "ch.ck", "ch.cn")
    )
    df_tbl = chunks.groupBy("ck").agg(
        F.countDistinct("doc_id").alias("ndocs")
    )
    return (
        chunks.join(df_tbl, "ck")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("ndocs") <= 1, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("ndocs") <= 1, F.col("cn")).otherwise(0))
            .cast("long")
            .alias("n_tokens_kept"),
        )
        .selectExpr(
            "doc_id", "n_chunks", "n_kept", "n_tokens_kept",
            "CAST(1 AS DOUBLE) - n_kept / n_chunks AS boilerplate_frac",
        )
    )


def _chunks_sql() -> str:
    c = _CHUNK_TOKENS
    return f"""
WITH toks AS (
  SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents
),
chunks AS (
  SELECT doc_id,
    unnest(list_transform(range(0, CAST(ceil(len(tokens) / {c}.0) AS BIGINT)),
      i -> md5(array_to_string(tokens[i * {c} + 1:i * {c} + {c}], ' ')))) AS ck,
    unnest(list_transform(range(0, CAST(ceil(len(tokens) / {c}.0) AS BIGINT)),
      i -> len(tokens[i * {c} + 1:i * {c} + {c}]))) AS cn
  FROM toks
),
df AS (SELECT ck, COUNT(DISTINCT doc_id) AS ndocs FROM chunks GROUP BY ck)
SELECT doc_id, COUNT(*) AS n_chunks,
  CAST(SUM(CASE WHEN ndocs <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(SUM(CASE WHEN ndocs <= 1 THEN cn ELSE 0 END) AS BIGINT) AS n_tokens_kept,
  CAST(1 AS DOUBLE) - SUM(CASE WHEN ndocs <= 1 THEN 1 ELSE 0 END) / COUNT(*)
    AS boilerplate_frac
FROM chunks JOIN df USING (ck)
GROUP BY doc_id
"""


# --- incremental dedup: new crawl vs existing corpus ------------------------------


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus without re-clustering
    the corpus — the steady-state shape of a production crawl pipeline
    (the corpus's digests and band keys are precomputed artifacts; only
    the new batch is tokenized/hashed fresh). Here the split is
    deterministic (even doc_id = corpus, odd = new) so the oracle can
    replay it. A new doc is rejected for an exact md5 match (semi join on
    digest) or any MinHash band collision with a corpus doc at
    est_jaccard >= 0.5 (band equi-join — the corpus side is the big one,
    so the join is new-batch-sized per band, never corpus x corpus)."""
    docs = _docs(spark, sf_dir).withColumn(
        "text_hash", F.md5(F.encode("text", "UTF-8"))
    )
    corpus_h = docs.filter(F.col("doc_id") % 2 == 0).select("text_hash").distinct()
    new_docs = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text_hash")

    bands = _band_frame(spark, sf_dir, *_MH_FULL)
    n_perms = len(_MH_FULL[0])
    corpus_b = bands.filter(F.col("doc_id") % 2 == 0).selectExpr(
        "doc_id AS c_id", "sig AS c_sig", "band_id", "band_key"
    )
    new_b = bands.filter(F.col("doc_id") % 2 == 1).selectExpr(
        "doc_id AS n_id", "sig AS n_sig", "band_id", "band_key"
    )
    near = (
        new_b.join(corpus_b, ["band_id", "band_key"])
        .select(
            "n_id", "c_id",
            F.expr(
                "CAST(size(filter(zip_with(n_sig, c_sig, (x, y) -> x = y),"
                " v -> v)) AS BIGINT)"
            ).alias("n_equal"),
        )
        .distinct()
        .filter(F.col("n_equal") / F.lit(float(n_perms)) >= 0.5)
        .groupBy("n_id")
        .agg(F.count("*").alias("n_near_dups"))
    )

    exact = corpus_h.withColumn("_dup", F.lit(True))
    out = (
        new_docs.join(exact, "text_hash", "left")
        .join(near, new_docs.doc_id == near.n_id, "left")
        .select(
            "doc_id",
            F.coalesce("_dup", F.lit(False)).alias("is_exact_dup"),
            F.coalesce("n_near_dups", F.lit(0).cast("long")).alias("n_near_dups"),
        )
        .withColumn(
            "keep", ~F.col("is_exact_dup") & (F.col("n_near_dups") == 0)
        )
    )
    return out


def _incremental_sql() -> str:
    params, n_bands = _MH_FULL
    n_perms = len(params)
    band_rows = _duck_band_rows(params, n_bands)
    return f"""
WITH sh AS (
  SELECT doc_id, list_distinct({DUCK_SHINGLES}) AS shingles
  FROM (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents)
),
hashed AS (
  SELECT doc_id, list_transform(shingles, s -> {duck_charfold('s')}) AS hashes
  FROM sh
),
sigs AS (SELECT doc_id, {_duck_sig(params)} AS sig FROM hashed),
bands AS ({band_rows}),
near AS (
  SELECT n_id, COUNT(*) AS n_near_dups FROM (
    SELECT DISTINCT n.doc_id AS n_id, c.doc_id AS c_id,
      len(list_filter(range(1, {n_perms + 1}), i -> n.sig[i] = c.sig[i]))
        AS n_equal
    FROM bands n JOIN bands c
      ON n.band_id = c.band_id AND n.band_key = c.band_key
     AND n.doc_id % 2 = 1 AND c.doc_id % 2 = 0
  ) WHERE n_equal / CAST({n_perms} AS DOUBLE) >= 0.5
  GROUP BY n_id
),
corpus_h AS (SELECT DISTINCT md5(text) AS text_hash FROM documents WHERE doc_id % 2 = 0)
SELECT d.doc_id,
  (h.text_hash IS NOT NULL) AS is_exact_dup,
  CAST(COALESCE(nr.n_near_dups, 0) AS BIGINT) AS n_near_dups,
  (h.text_hash IS NULL AND COALESCE(nr.n_near_dups, 0) = 0) AS keep
FROM (SELECT doc_id, md5(text) AS text_hash FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN corpus_h h ON d.text_hash = h.text_hash
LEFT JOIN near nr ON d.doc_id = nr.n_id
"""


# --- n-gram Jaccard near-dup -----------------------------------------------------------


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shingle sets are read 4× downstream (explode ×2 join sides, df-cut,
    # sizes ×2) — cache them so tokenize+shingle runs once, not per use.
    # Self-join inputs are likewise materialized: joining two aliases of
    # an UNcached plan recomputes the whole upstream per side (measured
    # 2× at sf0.1). Per-doc shingle sets are the LSH working set at any
    # scale; both caches are O(corpus tokens), evictable, plan-keyed.
    sh = (
        _docs(spark, sf_dir)
        .withColumn("tokens", F.expr(SPARK_TOKENS))
        .selectExpr("doc_id", f"array_distinct({SPARK_SHINGLES}) AS shingles")
    ).cache()
    exploded = sh.selectExpr("doc_id", "explode(shingles) AS shingle")
    sizes = sh.selectExpr("doc_id", "size(shingles) AS n_sh")
    # document-frequency cut: shingles shared by >50 docs carry no dedup
    # signal but dominate the self-join cost (the at-scale hot-key guard)
    rare = (
        exploded.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= 50)
        .select("shingle")
    )
    exploded = exploded.join(rare, "shingle").cache()
    a = exploded.alias("a")
    b = exploded.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a")
                    .withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n_sh", "n_b"), "doc_b")
        .selectExpr(
            "doc_a", "doc_b", "n_common",
            "n_common / (n_a + n_b - n_common) AS jaccard",
        )
        .filter(F.col("n_common") >= 2)
    )


SQL_NGRAM_JACCARD = f"""
WITH sh AS (
  SELECT doc_id, list_distinct({DUCK_SHINGLES}) AS shingles
  FROM (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents)
),
exploded_all AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
rare AS (
  SELECT shingle FROM exploded_all GROUP BY shingle HAVING COUNT(*) <= 50
),
exploded AS (
  SELECT e.doc_id, e.shingle FROM exploded_all e JOIN rare USING (shingle)
),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM exploded a JOIN exploded b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
  n_common / (sa.n_sh + sb.n_sh - n_common) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common >= 2
"""


# --- containment (asymmetric near-dup) ---------------------------------------------
#
# Broder's containment coefficient C(A,B) = |A∩B| / |A|: a 100-shingle
# snippet fully pasted inside a 5000-shingle page has jaccard ≈ 0.02
# (invisible to the symmetric score at any sane threshold) but
# containment(small→big) = 1.0. Copy/quote detection in corpus curation
# keys on containment for exactly this reason. Unlike q_ngram_jaccard,
# the df cut CANNOT simply drop hot shingles here — a snippet pasted
# into many pages makes all its shingles hot, which is precisely the
# signal containment exists to catch — so hot shingles go through a
# capped-anchor pair path instead of vanishing (r5 verdict finding #3).

_CONTAIN_TAU = 0.8
# Two-path candidate generation. Rare shingles (df <= cut) pair all-vs-
# all — O(df^2) per shingle, bounded by cut·df total. Hot shingles
# (df > cut) are exactly the containment use case (a snippet pasted into
# MANY pages), so they must NOT be dropped: each hot shingle pairs its
# _CONTAIN_ANCHOR_CAP lowest-id holders against every holder — at most
# CAP·df candidate rows per shingle, linear in corpus volume (the
# SemDeDup/simhash anchor-cap precedent, curation.py). A pair sharing a
# hot shingle is counted for that shingle iff the LOWER-id side is one
# of its CAP lowest-id holders — exact whenever a snippet's spread is
# <= CAP docs (so a 60-copy paste is fully detected); beyond CAP the
# count degrades to bounded recall instead of a silent zero. The oracle
# mirrors both paths and the cap exactly.
_CONTAIN_DF_CUT = 50
_CONTAIN_ANCHOR_CAP = 128


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs: ``(doc_small, doc_big, n_common,
    containment, jaccard)`` for pairs where the smaller shingle set is
    ≥ ``_CONTAIN_TAU`` contained in the larger — emitting the jaccard
    alongside shows what the symmetric score would have missed.
    ``doc_small`` is the side the containment is measured FOR (ties on
    set size break to the lower doc_id as doc_small). Candidate pairs
    come from the rare-shingle all-pairs path plus the hot-shingle
    capped-anchor path (see ``_CONTAIN_ANCHOR_CAP``)."""
    sh = (
        _docs(spark, sf_dir)
        .withColumn("tokens", F.expr(SPARK_TOKENS))
        .selectExpr("doc_id", f"array_distinct({SPARK_SHINGLES}) AS shingles")
        # read twice (explode + sizes) — eager checkpoint, GC-scoped
        .localCheckpoint(eager=True)
    )
    exploded = sh.selectExpr("doc_id", "explode(shingles) AS shingle")
    sizes = sh.selectExpr("doc_id", "size(shingles) AS n_sh")
    dfs = exploded.groupBy("shingle").agg(F.count("*").alias("df"))
    # (doc_id, shingle, df): read four times (both sides of the rare
    # self-join, anchors, hot holders) — eager checkpoint, not a dead
    # cache (the r5 verdict's finding #1)
    expl = exploded.join(dfs, "shingle").localCheckpoint(eager=True)
    rare = expl.filter(F.col("df") <= _CONTAIN_DF_CUT)
    rare_pairs = (
        rare.alias("a")
        .join(
            rare.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b")
    )
    hot = expl.filter(F.col("df") > _CONTAIN_DF_CUT)
    w = Window.partitionBy("shingle").orderBy("doc_id")
    anchors = (
        hot.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _CONTAIN_ANCHOR_CAP)
        .select("shingle", F.col("doc_id").alias("a_id"))
    )
    hot_pairs = (
        anchors.join(hot, "shingle")
        .filter(F.col("a_id") < F.col("doc_id"))
        .selectExpr("a_id AS doc_a", "doc_id AS doc_b")
    )
    common = (
        rare_pairs.unionByName(hot_pairs)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sized = (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a")
                    .withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n_sh", "n_b"), "doc_b")
    )
    out = sized.selectExpr(
        "IF(n_a <= n_b, doc_a, doc_b) AS doc_small",
        "IF(n_a <= n_b, doc_b, doc_a) AS doc_big",
        "n_common",
        "n_common / CAST(least(n_a, n_b) AS DOUBLE) AS containment",
        "n_common / CAST(n_a + n_b - n_common AS DOUBLE) AS jaccard",
    )
    return out.filter(F.col("containment") >= _CONTAIN_TAU)


SQL_NGRAM_CONTAINMENT = f"""
WITH sh AS (
  SELECT doc_id, list_distinct({DUCK_SHINGLES}) AS shingles
  FROM (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents)
),
exploded_all AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
dfs AS (SELECT shingle, COUNT(*) AS df FROM exploded_all GROUP BY shingle),
expl AS (
  SELECT e.doc_id, e.shingle, d.df
  FROM exploded_all e JOIN dfs d USING (shingle)
),
rare_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM expl a JOIN expl b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  WHERE a.df <= {_CONTAIN_DF_CUT}
),
anchors AS (
  SELECT shingle, doc_id AS a_id FROM (
    SELECT shingle, doc_id,
      ROW_NUMBER() OVER (PARTITION BY shingle ORDER BY doc_id) AS rn
    FROM expl WHERE df > {_CONTAIN_DF_CUT})
  WHERE rn <= {_CONTAIN_ANCHOR_CAP}
),
hot_pairs AS (
  SELECT a.a_id AS doc_a, h.doc_id AS doc_b
  FROM anchors a JOIN expl h
    ON a.shingle = h.shingle AND a.a_id < h.doc_id
  WHERE h.df > {_CONTAIN_DF_CUT}
),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
common AS (
  SELECT doc_a, doc_b, COUNT(*) AS n_common
  FROM (SELECT * FROM rare_pairs UNION ALL SELECT * FROM hot_pairs)
  GROUP BY 1, 2
)
SELECT IF(sa.n_sh <= sb.n_sh, doc_a, doc_b) AS doc_small,
  IF(sa.n_sh <= sb.n_sh, doc_b, doc_a) AS doc_big,
  n_common,
  n_common / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) AS containment,
  n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) >= {_CONTAIN_TAU}
"""


# --- MinHash-LSH -------------------------------------------------------------------------

_MH_P = 1_000_000_007


def _mh_params(n: int) -> list[tuple[int, int]]:
    """``n`` deterministic (a, b) permutation coefficients via a small
    LCG walk. ``a`` stays odd and < 8192 so ``a * h`` with ``h < 1e15``
    never overflows BIGINT in either dialect."""
    params: list[tuple[int, int]] = []
    a, b = 1, 0
    for _ in range(n):
        a = ((a * 131 + 7) % 8191) | 1
        b = (b * 137 + 31) % 999_983
        params.append((a, b))
    return params


# Declared signature: 64 permutations in 16 bands of 4 — a production-
# shaped sketch (est_jaccard granularity 1/64; band S-curve threshold
# (1/16)^(1/4) ≈ 0.50, matched to the components edge cut at 0.5).
_MH_FULL = (_mh_params(64), 16)


def _spark_sig(params: list[tuple[int, int]]) -> str:
    mins = ", ".join(
        f"array_min(transform(hashes, h -> ({a} * h + {b}) % {_MH_P}))"
        for a, b in params
    )
    return f"array({mins})"


def _duck_sig(params: list[tuple[int, int]]) -> str:
    mins = ", ".join(
        f"list_min(list_transform(hashes, h -> ({a} * h + {b}) % {_MH_P}))"
        for a, b in params
    )
    return f"[{mins}]"


def _band_frame(
    spark: SparkSession,
    sf_dir: str,
    params: list[tuple[int, int]],
    n_bands: int,
) -> DataFrame:
    """(doc_id, sig, band_id, band_key) — the LSH banding of every doc's
    MinHash signature; shared by the self-join pair pipeline and the
    incremental (new-vs-corpus) dedup."""
    n_perms = len(params)
    rows = n_perms // n_bands  # signature slots per band
    sigs = (
        _docs(spark, sf_dir)
        .withColumn("tokens", F.expr(SPARK_TOKENS))
        .withColumn("shingles", F.expr(f"array_distinct({SPARK_SHINGLES})"))
        .withColumn(
            "hashes", F.expr(f"transform(shingles, s -> {spark_charfold('s')})")
        )
        .selectExpr("doc_id", f"{_spark_sig(params)} AS sig")
    ).cache()  # n_perms bigints/doc; read by both self-join sides AND
    # reused verbatim by dedup_components' edge build (plan-keyed cache hit)
    # band_key = xxhash64 of the band's signature slice: an 8-byte shuffle
    # key instead of the ~40-80-byte '_'-joined string the slice would
    # stringify to. The key only has to be injective WITHIN each engine
    # (the band join never crosses engines), so Spark's xxhash64 and the
    # oracle's DuckDB hash() need not agree; a cross-pair collision adds
    # a spurious candidate with probability 2^-64 per colliding pair —
    # and even then the exact n_equal re-rank keeps est_jaccard honest.
    return sigs.selectExpr(
        "doc_id", "sig",
        f"explode(transform(sequence(0, {n_bands - 1}), "
        "j -> struct(j AS band_id, "
        f"xxhash64(slice(sig, j * {rows} + 1, {rows})) AS band_key))) AS band",
    ).select("doc_id", "sig", "band.band_id", "band.band_key")


def _minhash_pairs(
    spark: SparkSession,
    sf_dir: str,
    params: list[tuple[int, int]],
    n_bands: int,
) -> DataFrame:
    n_perms = len(params)
    bands = _band_frame(spark, sf_dir, params, n_bands)
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr(
                "CAST(size(filter(zip_with(a.sig, b.sig, (x, y) -> x = y),"
                " v -> v)) AS BIGINT)"
            ).alias("n_equal"),
        )
        .distinct()
    )
    return pairs.selectExpr(
        "doc_a", "doc_b", "n_equal",
        f"n_equal / CAST({n_perms} AS DOUBLE) AS est_jaccard",
    )


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pairs(spark, sf_dir, *_MH_FULL)


def _duck_band_rows(params: list[tuple[int, int]], n_bands: int) -> str:
    """DuckDB banding rows: hash(list) mirrors the Spark side's
    xxhash64(slice) — each dialect hashes its own band slice to an 8-byte
    key (engines never compare keys with each other, only pairs — see
    :func:`_band_frame`)."""
    rows = len(params) // n_bands
    return " UNION ALL ".join(
        f"SELECT doc_id, sig, {j} AS band_id,"
        f" hash(sig[{j * rows + 1}:{(j + 1) * rows}]) AS band_key FROM sigs"
        for j in range(n_bands)
    )


def _minhash_sql_for(params: list[tuple[int, int]], n_bands: int) -> str:
    n_perms = len(params)
    band_rows = _duck_band_rows(params, n_bands)
    return f"""
WITH sh AS (
  SELECT doc_id, list_distinct({DUCK_SHINGLES}) AS shingles
  FROM (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents)
),
hashed AS (
  SELECT doc_id, list_transform(shingles, s -> {duck_charfold('s')}) AS hashes
  FROM sh
),
sigs AS (SELECT doc_id, {_duck_sig(params)} AS sig FROM hashed),
bands AS ({band_rows}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    len(list_filter(range(1, {n_perms + 1}),
        i -> a.sig[i] = b.sig[i])) AS n_equal
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, n_equal, n_equal / CAST({n_perms} AS DOUBLE) AS est_jaccard
FROM pairs
"""


def _minhash_sql() -> str:
    return _minhash_sql_for(*_MH_FULL)


# --- SimHash ---------------------------------------------------------------------------

# 48-bit simhash, banded into 4 x 12-bit bands (4096 values per band).
# The r4 form (32-bit sig, 4 byte-bands) measured exactly quadratic
# between sf1 and sf3 (alpha=2.00, 16.9s -> 151.9s, BASELINE.md r5):
# a byte band has only 256 distinct values, so once n >> 256 every
# bucket holds ~n/256 docs and within-bucket pairing is n^2/256 — the
# band SPACE saturates. 12-bit bands multiply the bucket count 16x
# (same pigeonhole guarantee: <=3 flipped bits leave >=1 of 4 bands
# intact), and the per-bucket anchor cap below makes the worst case
# linear outright.
#
# Each signature bit uses its OWN token-hash function — bit 30 of
# (th * (2j+3)) % 1e15 — not bit j of the shared polynomial hash. The
# r4 bit-slice form had a structural degeneracy: charfold of a short
# token never reaches the high bits (a 6-char token's hash is < 2^32),
# so bits 32..47 summed to -n_tokens for EVERY doc and the top band
# collapsed into one corpus-wide bucket even on fully diverse corpora.
# Measured on a 300-doc unique-token fixture: worst bucket 5/300 with
# the per-bit functions vs 251/300 with raw upper-bit slices. Bit 30
# specifically: 1e15 = 2^15 * 5^15, so (x % 1e15) preserves x's low 15
# bits — any bit <= 14 of the product is a linear (degenerate) function
# of th; bit 30 sits above the linear zone and below the biased top.
_SIM_BITS = 48
_SIM_BAND_VALUES = 4096  # 2^(48/4)

# Hard per-bucket bound, same pattern as similarity._BUCKET_CAP and the
# SemDeDup anchor cap: each (band, value) bucket contributes at most
# CAP * |bucket| candidate pairs (anchors = the CAP lowest doc_ids).
# Buckets only exceed the cap when n >> 4096 * CAP; beyond that the
# degradation is bounded recall in oversized buckets, not executor melt.
# The oracle mirrors the cap exactly, so parity is unconditional.
_SIM_BUCKET_CAP = 128


def simhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash, band_id, nibble) — one row per doc per band.
    Shared by the query and the bound tests so bucket-occupancy claims
    are measured on the exact banding the query shuffles on."""
    tok_hash = docs.withColumn("tokens", F.expr(SPARK_TOKENS)).selectExpr(
        "doc_id",
        f"explode(transform(tokens, t -> {spark_charfold('t')})) AS th",
    )
    bit_sums = tok_hash.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(
                    f"CASE WHEN (((th * {2 * j + 3}) % {_MOD}) div {1 << 30}) % 2 = 1"
                    " THEN 1 ELSE -1 END"
                )
            ).alias(f"s{j}")
            for j in range(_SIM_BITS)
        ]
    )
    simhash = " + ".join(
        f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(_SIM_BITS)
    )
    # one 64-bit row per doc; caching stops the token-hash explode +
    # 48-way conditional-sum groupBy from running once per join side
    # (plan-keyed, evictable; harness clearCache releases it)
    sh = bit_sums.selectExpr(
        "doc_id", f"CAST({simhash} AS BIGINT) AS simhash"
    ).cache()
    return sh.selectExpr(
        "doc_id", "simhash",
        "explode(transform(sequence(0, 3), "
        f"j -> struct(j AS band_id, (simhash div CAST(pow({_SIM_BAND_VALUES}, j)"
        f" AS BIGINT)) % {_SIM_BAND_VALUES} AS nibble))) AS band",
    ).select("doc_id", "simhash", "band.band_id", "band.nibble")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = simhash_bands(_docs(spark, sf_dir))
    w = Window.partitionBy("band_id", "nibble").orderBy("doc_id")
    anchors = (
        bands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SIM_BUCKET_CAP)
        .drop("rn")
    )
    a, b = anchors.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.nibble") == F.col("b.nibble"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


def _simhash_sql() -> str:
    bit_sums = ",\n    ".join(
        f"SUM(CASE WHEN (((th * {2 * j + 3}) % {_MOD}) // {1 << 30}) % 2 = 1"
        f" THEN 1 ELSE -1 END) AS s{j}"
        for j in range(_SIM_BITS)
    )
    simhash = " + ".join(
        f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(_SIM_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id,
    unnest(list_transform({DUCK_TOKENS}, t -> {duck_charfold('t')})) AS th
  FROM documents
),
bit_sums AS (
  SELECT doc_id, {bit_sums}
  FROM tok GROUP BY doc_id
),
sh AS (SELECT doc_id, CAST({simhash} AS BIGINT) AS simhash FROM bit_sums),
bands AS (
  SELECT doc_id, simhash, j AS band_id,
    (simhash // CAST(pow({_SIM_BAND_VALUES}, j) AS BIGINT)) % {_SIM_BAND_VALUES} AS nibble
  FROM sh, (SELECT unnest([0, 1, 2, 3]) AS j)
),
anchors AS (
  SELECT doc_id, simhash, band_id, nibble FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY band_id, nibble ORDER BY doc_id) AS rn
    FROM bands
  ) WHERE rn <= {_SIM_BUCKET_CAP}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM anchors a JOIN bands b
  ON a.band_id = b.band_id AND a.nibble = b.nibble AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


# --- TF-IDF top terms ------------------------------------------------------------


def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 salient terms per document by a tf-idf-style score.

    Shape: explode → per-(doc,term) counts → per-term document frequency
    → join term stats back → ranked window top-k. The rarity factor is
    the *rational* form ``(N+1)/(df+1)`` rather than its log: one IEEE
    division of identical operands is bit-equal across engines, while
    libm ``ln`` may differ in the last ulp (Spark↔DuckDB determinism
    rule: prefer exact-op scores when ranking is all that matters).

    Scale: both aggregations are map-side-combinable; the df table is
    vocabulary-sized (≪ corpus) and broadcasts back onto the term rows.
    """
    tf = (
        _docs(spark, sf_dir)
        .selectExpr("doc_id", f"explode({SPARK_TOKENS}) AS term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    ).cache()  # read twice: df aggregation + the scored join; plan-keyed
    # and evictable — released by the harness clearCache between queries
    n_docs = _docs(spark, sf_dir).count()
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(df_tbl), "term").selectExpr(
        "doc_id", "term", "tf",
        f"tf * (CAST({n_docs} + 1 AS DOUBLE) / (df + 1)) AS score",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter("rank <= 3")
        .select("doc_id", "rank", "term", "tf", "score")
    )


def _tfidf_sql() -> str:
    return f"""
WITH tf AS (
  SELECT doc_id, unnest({DUCK_TOKENS}) AS term FROM documents
),
tfc AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
dfc AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1),
scored AS (
  SELECT doc_id, term, tf,
    tf * (CAST(n_docs + 1 AS DOUBLE) / (df + 1)) AS score
  FROM tfc JOIN dfc USING (term) CROSS JOIN n
)
SELECT doc_id, rank, term, tf, score FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


# --- PII scrubbing ---------------------------------------------------------------

# simple, dialect-portable patterns (Java regex ≡ RE2 for these forms);
# email covers hyphenated and plus-addressed forms — '-' sits last in the
# classes so both dialects read it literally
_PII_RULES = [
    ("[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+", "<EMAIL>"),
    ("[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    ("[0-9]{7,}", "<NUM>"),
]


def scrub_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Training-data hygiene: rule-based PII redaction + a changed flag.
    Chained regexp_replace stays inside codegen — per-row Python never
    touches the text column. The chain is materialized ONCE in an inner
    projection; the flag/length derive from that column (no reliance on
    subexpression elimination for the 9-regex chain)."""
    out = F.col(text_col)
    for pat, repl in _PII_RULES:
        out = F.regexp_replace(out, pat, repl)
    inner = docs.select("doc_id", F.col(text_col).alias("_text"), out.alias("scrubbed"))
    return inner.select(
        "doc_id",
        "scrubbed",
        (F.col("scrubbed") != F.col("_text")).cast("bigint").alias("was_redacted"),
        F.length("scrubbed").cast("long").alias("n_chars_scrubbed"),
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scrub_pii(read_input(spark, sf_dir, "documents", ROWS_PER_TASK_HEAVY))


def _pii_sql() -> str:
    expr = "text"
    for pat, repl in _PII_RULES:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return f"""
SELECT doc_id, scrubbed,
  CAST(scrubbed <> text AS BIGINT) AS was_redacted,
  CAST(length(scrubbed) AS BIGINT) AS n_chars_scrubbed
FROM (SELECT doc_id, text, {expr} AS scrubbed FROM documents)
"""


# --- corpus curation: the end-to-end training-data pipeline ------------------


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data capstone: quality scoring + language ID + PII
    scrub + fingerprint dedup composed into ONE curation pass.

    Spark plan shape: everything up to the dedup is a single narrow
    projection over one scan (tokens computed once, stats/langid/scrub
    all derived in the same stage — no joins between the steps); the only
    shuffle is the fingerprint-dedup window. At 100 TB that is one
    shuffle on a 64-char-prefix hash — the minimal-movement curation
    plan. Thresholds (n_tokens ≥ 20, quality ≥ 0.3) split this corpus
    ~40/60, and the prefix fingerprint has a real ~5% dup rate — none of
    the stages is vacuous (verified at sf0.01).
    """
    langs = list(LANG_MARKERS)
    pred = "CASE "
    for lang in langs:
        conds = " AND ".join(f"hits_{lang} >= hits_{o}" for o in langs if o != lang)
        pred += f"WHEN {conds} THEN '{lang}' "
    pred += "END"
    scrub = "text"
    for pat, repl in _PII_RULES:
        scrub = f"regexp_replace({scrub}, '{pat}', '{repl}')"
    base = (
        _docs(spark, sf_dir)
        .withColumn("tokens", F.expr(SPARK_TOKENS))
        .withColumns(
            {
                "n_tokens": F.expr("CAST(size(tokens) AS BIGINT)"),
                "n_distinct": F.expr("CAST(size(array_distinct(tokens)) AS BIGINT)"),
                "n_stopwords": F.expr(
                    f"CAST(size(filter(tokens, t -> array_contains({_arr(STOPWORDS)}, t))) AS BIGINT)"
                ),
                **{
                    f"hits_{lang}": F.expr(
                        f"CAST(size(filter(tokens, t -> array_contains({_arr(m)}, t))) AS BIGINT)"
                    )
                    for lang, m in LANG_MARKERS.items()
                },
            }
        )
        .withColumns(
            {
                "quality_score": F.expr(
                    "CAST(0.4 AS DOUBLE) * (n_stopwords / n_tokens)"
                    " + CAST(0.3 AS DOUBLE) * (n_distinct / n_tokens)"
                    " + CAST(0.3 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),"
                    " n_tokens / CAST(100.0 AS DOUBLE))"
                ),
                "predicted_lang": F.expr(pred),
                "n_chars_scrubbed": F.expr(f"CAST(length({scrub}) AS BIGINT)"),
                "fp_prefix64": F.expr(
                    spark_charfold("lower(substring(text, 1, 64))")
                ),
            }
        )
        .filter("n_tokens >= 20 AND quality_score >= CAST(0.3 AS DOUBLE)")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("fp_prefix64").orderBy("doc_id")
    return (
        base.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            "doc_id", "predicted_lang", "n_tokens", "quality_score",
            "n_chars_scrubbed",
        )
    )


def _curate_sql() -> str:
    langs = list(LANG_MARKERS)
    hits = ",\n    ".join(
        f"len(list_filter(tokens, t -> list_contains({_lst(m)}, t))) AS hits_{lang}"
        for lang, m in LANG_MARKERS.items()
    )
    pred = "CASE "
    for lang in langs:
        conds = " AND ".join(f"hits_{lang} >= hits_{o}" for o in langs if o != lang)
        pred += f"WHEN {conds} THEN '{lang}' "
    pred += "END"
    scrub = "text"
    for pat, repl in _PII_RULES:
        scrub = f"regexp_replace({scrub}, '{pat}', '{repl}', 'g')"
    return f"""
WITH feat AS (
  SELECT doc_id, text,
    len(tokens) AS n_tokens,
    len(list_distinct(tokens)) AS n_distinct,
    len(list_filter(tokens, t -> list_contains({_lst(STOPWORDS)}, t))) AS n_stopwords,
    {hits}
  FROM (SELECT doc_id, text, {DUCK_TOKENS} AS tokens FROM documents)
),
scored AS (
  SELECT doc_id,
    CAST(0.4 AS DOUBLE) * (n_stopwords / n_tokens)
      + CAST(0.3 AS DOUBLE) * (n_distinct / n_tokens)
      + CAST(0.3 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),
        n_tokens / CAST(100.0 AS DOUBLE)) AS quality_score,
    {pred} AS predicted_lang,
    n_tokens,
    CAST(length({scrub}) AS BIGINT) AS n_chars_scrubbed,
    {duck_charfold('lower(substring(text, 1, 64))')} AS fp_prefix64
  FROM feat
  WHERE n_tokens >= 20
),
kept AS (
  SELECT * FROM scored WHERE quality_score >= CAST(0.3 AS DOUBLE)
),
dedup AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp_prefix64 ORDER BY doc_id) AS rn
  FROM kept
)
SELECT doc_id, predicted_lang, n_tokens, quality_score, n_chars_scrubbed
FROM dedup WHERE rn = 1
"""


# --- duplicate clustering: connected components over the near-dup graph -----

# retained for the property-test twin (tests/test_round2.py) that pins
# the fixed-horizon form's chain-splitting behavior against the
# convergent declared path
_CC_ITERS = 4


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster near-duplicates into duplicate groups: min-label
    propagation iterated **to convergence** (:func:`cc_labels_converged`)
    over the MinHash candidate graph — connected components as pure
    DataFrame joins. Edges are the candidate pairs at est_jaccard ≥ 0.5;
    a sparse, meaningful near-dup graph (the SimHash graph degenerates to
    a near-clique on this shared-vocabulary corpus: ~2M edges at sf0.1,
    measured). Output: doc_id → cluster id (the minimum doc_id in the
    connected component — the DuckDB oracle computes the same fixpoint
    via a recursive reachability CTE, so convergence is oracle-checked,
    not assumed).

    Only edge endpoints can ever change label, so propagation runs over
    the (much smaller) endpoint set; isolated docs join back at the end
    with their own id as cluster. At corpus scale the iteration frames
    shrink from |corpus| to |near-dup endpoints| (orders of magnitude).
    """
    pairs = (
        q_dedup_minhash(spark, sf_dir)
        .filter(F.col("est_jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    endpoints = edges.select(F.col("doc_a").alias("doc_id")).distinct()
    labels = cc_labels_converged(edges, endpoints)
    docs = _docs(spark, sf_dir).select("doc_id")
    # plain left join: the endpoint label frame can exceed broadcast
    # limits on a real corpus, so no broadcast hint — AQE broadcasts at
    # runtime when the frame is actually small
    return docs.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster", F.col("doc_id")).alias("cluster")
    )


def cc_labels_converged(
    edges: DataFrame,
    nodes: DataFrame,
    max_iters: int = 50,
    n_salts: int = 16,
    rounds_out: list | None = None,
) -> DataFrame:
    """Connected components: min-label propagation iterated **to
    convergence** (stop when zero labels change), not a fixed unrolled
    horizon — a fixed horizon splits any duplicate chain whose graph
    diameter exceeds it, and real 100 TB corpora have long chains.

    ``edges`` must be symmetric (doc_a, doc_b); ``nodes`` one doc_id per
    vertex. Each iteration is one join + one salted aggregation; the
    label frame is localCheckpoint-ed to truncate lineage (on a real
    cluster, set a checkpoint dir and use ``checkpoint()``). The
    neighbor-min aggregation goes through :func:`~.skew.salted_agg`
    because near-dup graphs have hub nodes (a boilerplate page linked to
    everything): a hot ``doc_a`` would funnel its whole adjacency to one
    reducer's final agg — salting spreads it over ``n_salts`` partials
    first (min is associative, so partial-min-of-mins is exact).
    Propagating min labels converges within the graph diameter;
    ``max_iters`` is a runaway bound, not a correctness horizon."""
    from .skew import salted_agg

    edges = edges.cache()
    labels = nodes.select("doc_id", F.col("doc_id").alias("cluster"))
    labels = labels.localCheckpoint(eager=True)
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        contrib = edges.join(labels, edges.doc_b == labels.doc_id).select(
            "doc_a", "cluster"
        )
        nbr = salted_agg(
            contrib,
            "doc_a",
            aggs=lambda d: [F.min("cluster").alias("part_min")],
            combine=lambda d: [F.min("part_min").alias("nbr_min")],
            n_salts=n_salts,
        )
        # one materialization per iteration carries both the new label and
        # the previous one, so the convergence check is a cheap scan of
        # the checkpointed frame — no extra join against the old labels
        step = (
            labels.join(nbr, labels.doc_id == nbr.doc_a, "left")
            .select(
                "doc_id",
                F.col("cluster").alias("prev_cluster"),
                F.least(
                    F.col("cluster"), F.coalesce("nbr_min", F.col("cluster"))
                ).alias("cluster"),
            )
            .localCheckpoint(eager=True)
        )
        changed = step.filter(F.col("cluster") != F.col("prev_cluster")).count()
        labels = step.select("doc_id", "cluster")
        if changed == 0:
            break
    edges.unpersist()
    if rounds_out is not None:
        rounds_out.append(rounds)
    return labels


def cc_labels_star(
    edges: DataFrame,
    nodes: DataFrame,
    max_iters: int = 50,
    rounds_out: list | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rounds (the MapReduce CC algorithm of Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): each round hooks
    every node's neighbors onto the minimum of its closed neighborhood,
    which contracts the graph toward per-component stars in O(log)
    rounds — versus min-label propagation's diameter-bounded rounds. On
    a 100 TB crawl with duplicate chains thousands of links long, the
    difference is ~12 rounds vs ~thousands.

    ``edges`` symmetric (doc_a, doc_b), no self-loops; ``nodes`` one
    doc_id per vertex. Each round is two groupBy+join passes over the
    current edge frame, localCheckpoint-ed to truncate lineage.
    Convergence = the (count, xxhash64-sum) edge digest repeating — an
    O(1)-row action per round; the final stars give every node the
    component minimum as its direct neighbor. Labels are property-tested
    equal to :func:`cc_labels_converged` and oracle-checked through
    ``dedup_hybrid``'s recursive-CTE fixpoint."""

    def _star(e: DataFrame, large: bool, dedupe: bool = True) -> DataFrame:
        m = e.groupBy("doc_a").agg(F.min("doc_b").alias("mnb")).select(
            "doc_a", F.least("doc_a", "mnb").alias("m")
        )
        withm = e.join(m, "doc_a")
        if large:
            # attach strictly-larger neighbors to min(closed nbhd)
            out = withm.filter(F.col("doc_b") > F.col("doc_a")).select(
                F.col("doc_b").alias("u"), F.col("m").alias("v")
            )
        else:
            # attach not-larger neighbors AND the node itself to the min
            out = withm.filter(F.col("doc_b") <= F.col("doc_a")).select(
                F.col("doc_b").alias("u"), F.col("m").alias("v")
            ).union(m.select(F.col("doc_a").alias("u"), F.col("m").alias("v")))
        out = out.filter(F.col("u") != F.col("v"))
        if dedupe:
            out = out.distinct()
        # re-symmetrize for the next round's per-node neighborhoods
        return out.select(
            F.col("u").alias("doc_a"), F.col("v").alias("doc_b")
        ).union(out.select(F.col("v").alias("doc_a"), F.col("u").alias("doc_b")))

    e = edges.localCheckpoint(eager=True)
    spark = e.sparkSession
    # Small-graph fast path (r15, guide §1.2/§2.4): with AQE on, EVERY
    # tiny shuffle of EVERY star round becomes its own re-optimized
    # query stage — dedup_hybrid planned 87 jobs at sf0.1, almost all
    # AQE re-planning of sub-100k-row frames, and the job-scheduling
    # overhead dominated the round's actual work. small_plan_mode runs
    # the ROUNDS with AQE off and a shuffle width scaled to the edge
    # count; both confs are restored after the loop, so the final label
    # join (and everything else on the session) still plans under AQE.
    # The count is an O(partitions) action over the already-materialized
    # checkpoint. At real scale n_edges exceeds the threshold and the
    # loop is untouched.
    n_edges = e.count()
    prev_digest = None
    rounds = 0
    with small_plan_mode(spark, n_edges):
        for _ in range(max_iters):
            # the intermediate large-star output skips its distinct: the
            # small-star pass only min-aggregates and joins over it, both
            # duplicate-insensitive for the resulting edge SET, and the round
            # ends in a distinct — one shuffle fewer per round, identical
            # per-round edge sets (so identical digests and round counts)
            e = _star(
                _star(e, large=True, dedupe=False), large=False
            ).localCheckpoint(eager=True)
            rounds += 1
            digest = e.agg(
                F.count("*").alias("n"),
                F.expr("bit_xor(xxhash64(doc_a, doc_b))").alias("h"),
            ).first()
            digest = (digest["n"], digest["h"])
            if digest == prev_digest:
                break
            prev_digest = digest
    if rounds_out is not None:
        rounds_out.append(rounds)
    star_min = e.groupBy("doc_a").agg(F.min("doc_b").alias("nbr_min"))
    return nodes.join(
        star_min, nodes.doc_id == star_min.doc_a, "left"
    ).select(
        "doc_id",
        F.least(
            F.col("doc_id"), F.coalesce("nbr_min", F.col("doc_id"))
        ).alias("cluster"),
    )


def _components_sql() -> str:
    pairs_sql = _minhash_sql().strip()
    # The oracle computes the same fixpoint the convergent propagation
    # reaches, via recursive reachability: r(doc, x) = x reachable from
    # doc, cluster = MIN(x). UNION (set) semantics terminate the
    # recursion; isolated docs reach only themselves.
    return f"""
WITH RECURSIVE allpairs AS ({pairs_sql}),
pairs AS (SELECT doc_a, doc_b FROM allpairs WHERE est_jaccard >= 0.5),
edges AS (SELECT doc_a, doc_b FROM pairs
 UNION ALL SELECT doc_b, doc_a FROM pairs),
reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT t.doc_id, e.doc_b FROM reach t JOIN edges e ON t.r = e.doc_a
)
SELECT doc_id, MIN(r) AS cluster FROM reach GROUP BY doc_id
"""


# --- Gopher-style repetition / quality filters ------------------------------

# thresholds adapted from the public Gopher corpus-filtering rules
# (Rae et al. 2021, "Scaling Language Models", appendix A): doc length
# bounds, mean-word-length band, symbol-to-word and repetition caps.
_GOPHER_MIN_TOKENS = 5
_GOPHER_MAX_TOKENS = 100_000
_GOPHER_MIN_WORD_LEN = 2.0
_GOPHER_MAX_WORD_LEN = 12.0
_GOPHER_MAX_SYMBOL_RATIO = 0.3
_GOPHER_MAX_DUP_3GRAM = 0.5
_GOPHER_MAX_TOP_2GRAM = 0.3

_SPARK_2GRAMS = (
    "CASE WHEN size(tokens) < 2 THEN array(concat_ws(' ', tokens)) "
    "ELSE transform(sequence(1, size(tokens) - 1), "
    "i -> concat_ws(' ', slice(tokens, i, 2))) END"
)
_DUCK_2GRAMS = (
    "CASE WHEN len(tokens) < 2 THEN [array_to_string(tokens, ' ')] "
    "ELSE list_transform(range(1, len(tokens)), "
    "i -> array_to_string(tokens[i:i+1], ' ')) END"
)


def gopher_signals(docs: DataFrame) -> DataFrame:
    """Apply the quality signals + pass flag to any (doc_id, text) frame.

    The synthetic test corpus is clean — every document passes the
    published thresholds (measured: 500/500 at sf0.01, worst
    dup_3gram_frac 0.27) — so non-vacuity of each rule is pinned by
    ``tests/test_quality_gopher.py`` over synthesized degenerate
    documents (same pattern as the PII-scrub non-vacuity test)."""
    return (
        docs.withColumn("tokens", F.expr(SPARK_TOKENS))
        .withColumn("grams3", F.expr(SPARK_SHINGLES))
        .withColumn("grams2", F.expr(_SPARK_2GRAMS))
        # max 2-gram frequency = longest equal run in the sorted gram
        # array: O(n log n) sort + O(n) scan, vs the naive
        # count-per-distinct-gram which is O(n²) per document and a
        # straggler hazard on a pathological 100k-token doc
        .withColumn("s2", F.expr("array_sort(grams2)"))
        .selectExpr(
            "doc_id",
            "CAST(size(tokens) AS BIGINT) AS n_tokens",
            "CAST(1 AS DOUBLE) - size(array_distinct(grams3)) / size(grams3)"
            " AS dup_3gram_frac",
            "CASE WHEN size(s2) < 2 THEN CAST(1 AS BIGINT) ELSE"
            " aggregate(sequence(2, size(s2)),"
            "  named_struct('run', CAST(1 AS BIGINT), 'best', CAST(1 AS BIGINT)),"
            "  (acc, i) -> IF(element_at(s2, i) = element_at(s2, i - 1),"
            "   named_struct('run', acc.run + 1,"
            "    'best', greatest(acc.best, acc.run + 1)),"
            "   named_struct('run', CAST(1 AS BIGINT), 'best', acc.best)),"
            "  acc -> acc.best) END / size(grams2)"
            " AS top_2gram_frac",
            "size(filter(tokens, t -> t rlike '[^a-zA-Z0-9]')) / size(tokens)"
            " AS symbol_ratio",
            "size(filter(tokens, t -> t rlike '^[0-9]+$')) / size(tokens)"
            " AS numeric_frac",
            "aggregate(transform(tokens, t -> length(t)), cast(0 as bigint),"
            " (acc, x) -> acc + x) / size(tokens) AS mean_word_len",
        )
        .selectExpr(
            "*",
            f"n_tokens >= {_GOPHER_MIN_TOKENS}"
            f" AND n_tokens <= {_GOPHER_MAX_TOKENS}"
            f" AND mean_word_len >= {_GOPHER_MIN_WORD_LEN}"
            f" AND mean_word_len <= {_GOPHER_MAX_WORD_LEN}"
            f" AND symbol_ratio <= {_GOPHER_MAX_SYMBOL_RATIO}"
            f" AND dup_3gram_frac <= {_GOPHER_MAX_DUP_3GRAM}"
            f" AND top_2gram_frac <= {_GOPHER_MAX_TOP_2GRAM}"
            " AS gopher_pass",
        )
    )


def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filtering in the style of the public
    Gopher rules: duplicate word-3-gram fraction, most-frequent-2-gram
    mass, symbol-to-word ratio, numeric-token fraction, mean word
    length, and a combined pass/fail flag. Entirely higher-order array
    expressions inside codegen — at 100 TB this is a pure map over the
    corpus, no shuffle at all. The top-2-gram count is a sorted-run scan
    (O(n log n) per document), so a pathological 100k-token document
    costs ~10^6 comparisons in its task, not ~10^10."""
    return gopher_signals(_docs(spark, sf_dir))


SQL_QUALITY_GOPHER = f"""
SELECT *,
  n_tokens >= {_GOPHER_MIN_TOKENS}
    AND n_tokens <= {_GOPHER_MAX_TOKENS}
    AND mean_word_len >= {_GOPHER_MIN_WORD_LEN}
    AND mean_word_len <= {_GOPHER_MAX_WORD_LEN}
    AND symbol_ratio <= {_GOPHER_MAX_SYMBOL_RATIO}
    AND dup_3gram_frac <= {_GOPHER_MAX_DUP_3GRAM}
    AND top_2gram_frac <= {_GOPHER_MAX_TOP_2GRAM}
  AS gopher_pass
FROM (
  SELECT doc_id,
    len(tokens) AS n_tokens,
    CAST(1 AS DOUBLE) - len(list_distinct(grams3)) / len(grams3)
      AS dup_3gram_frac,
    list_max(list_transform(list_distinct(grams2),
      g -> len(list_filter(grams2, x -> x = g)))) / len(grams2)
      AS top_2gram_frac,
    len(list_filter(tokens, t -> regexp_matches(t, '[^a-zA-Z0-9]')))
      / len(tokens) AS symbol_ratio,
    len(list_filter(tokens, t -> regexp_matches(t, '^[0-9]+$')))
      / len(tokens) AS numeric_frac,
    list_reduce([CAST(0 AS BIGINT)] ||
      list_transform(tokens, t -> CAST(length(t) AS BIGINT)),
      (acc, x) -> acc + x) / len(tokens) AS mean_word_len
  FROM (
    SELECT doc_id, tokens, {DUCK_SHINGLES} AS grams3, {_DUCK_2GRAMS} AS grams2
    FROM (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents)
  )
)
"""


# --- cross-document substring dedup (rolling token windows) -----------------
#
# The ExactSubstr method class (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better", arXiv:2107.06499) marks spans whose
# text reappears verbatim in ANOTHER document. The paper builds one giant
# suffix array; the distributed re-expression is rolling fixed-width token
# windows: a W-token span is duplicated iff all of its windows are (for
# spans >= W), so window-level matching finds every duplicated run of
# length >= _SUBSTR_W with positional precision the shingle-set methods
# (Jaccard/MinHash) cannot give — those score whole documents, this one
# measures exactly WHICH tokens are duplicated.
#
# Scale shape (the suffix array is inherently O(total tokens); so is this):
#   1. window generation is a pure map (array exprs in codegen);
#   2. the shared-window test shuffles one row per window — keyed by an
#      8-byte xxhash64 of the window text (the MinHash band-key trick;
#      each dialect hashes its own side, the join never crosses engines);
#   3. "appears in >= 2 distinct docs" is min(doc) <> max(doc) — an
#      associative partial agg, NOT a countDistinct (no per-key set state,
#      and a window shared by 10^6 docs costs the same as one shared by 2);
#   4. only MATCHED windows explode x W into token positions; the distinct
#      over (doc, pos) is the interval-union step, bounded by doc length.
# A boilerplate 8-gram shared by millions of pages makes its *positions*
# hot only within each doc (bounded by doc length), never a global key.

_SUBSTR_W = 8  # window width in tokens = minimum duplicated-run length


def _win_spark(w: int) -> str:
    return (
        f"transform(sequence(1, size(tokens) - {w} + 1), "
        f"i -> named_struct('i', i, 'wk', "
        f"xxhash64(concat_ws(' ', slice(tokens, i, {w})))))"
    )


def substring_signals(docs: DataFrame) -> DataFrame:
    """Per-document duplicated-token accounting from cross-document
    verbatim ``_SUBSTR_W``-token windows, for any ``(doc_id, text)``
    frame: ``(doc_id, n_tokens, n_windows, shared_windows, dup_tokens,
    dup_token_frac)`` for every document long enough to hold one window.
    ``dup_tokens`` counts the distinct token positions covered by at
    least one shared window (the union of duplicated spans), so
    ``dup_token_frac`` is the paper's "fraction of tokens inside a
    duplicated substring" — two docs sharing one 10-token run report
    dup_tokens=10, not 3 windows x 8.
    """
    w = _SUBSTR_W
    toks = (
        docs.withColumn("tokens", F.expr(SPARK_TOKENS))
        .filter(F.expr(f"size(tokens) >= {w}"))
        .selectExpr("doc_id", "size(tokens) AS n_tokens", "tokens")
    )
    # (doc_id, i, wk): one row per window position, 8-byte key — read
    # THREE times (shared-key agg, shared_cnt join, covered join), so
    # materialize eagerly. A cache() unpersisted before the action would
    # be dropped from the CacheManager and recompute per read; the
    # eager localCheckpoint (the spans-pipeline pattern below) truncates
    # the lineage once and serves all three reads, GC-scoped.
    wins = toks.selectExpr(
        "doc_id", "n_tokens", f"inline({_win_spark(w)})"
    ).localCheckpoint(eager=True)
    shared = (
        wins.groupBy("wk")
        .agg(F.min("doc_id").alias("d_lo"), F.max("doc_id").alias("d_hi"))
        .filter(F.col("d_lo") != F.col("d_hi"))
        .select("wk")
    )
    covered = (
        wins.join(shared, "wk")
        .selectExpr("doc_id", f"explode(sequence(i, i + {w} - 1)) AS pos")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("dup_tokens"))
    )
    shared_cnt = (
        wins.join(shared, "wk")
        .groupBy("doc_id")
        .agg(F.count("*").alias("shared_windows"))
    )
    out = (
        wins.groupBy("doc_id", "n_tokens")
        .agg(F.count("*").alias("n_windows"))
        .join(shared_cnt, "doc_id", "left")
        .join(covered, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CAST(n_tokens AS BIGINT) AS n_tokens",
            "CAST(n_windows AS BIGINT) AS n_windows",
            "CAST(COALESCE(shared_windows, 0) AS BIGINT) AS shared_windows",
            "CAST(COALESCE(dup_tokens, 0) AS BIGINT) AS dup_tokens",
            "COALESCE(dup_tokens, 0) / CAST(n_tokens AS DOUBLE)"
            " AS dup_token_frac",
        )
    )
    return out


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of :func:`substring_signals` over the corpus."""
    return substring_signals(_docs(spark, sf_dir))


def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cut list: maximal duplicated spans per document —
    ``(doc_id, span_start, span_end, span_len)``, 1-based token
    positions, inclusive. This is the artifact the ExactSubstr paper
    actually removes from the corpus; :func:`q_dedup_substring` reports
    the per-doc totals, this emits the positions. Merging covered
    positions into maximal runs is gaps-and-islands (pos − row_number
    per doc is constant within a run) — a per-document window, so span
    assembly never leaves the document's partition."""
    w = _SUBSTR_W
    toks = (
        _docs(spark, sf_dir)
        .withColumn("tokens", F.expr(SPARK_TOKENS))
        .filter(F.expr(f"size(tokens) >= {w}"))
        .selectExpr("doc_id", "tokens")
    )
    # read twice (shared-key agg + join back) — materialize, GC-scoped
    wins = toks.selectExpr(
        "doc_id", f"inline({_win_spark(w)})"
    ).localCheckpoint(eager=True)
    shared = (
        wins.groupBy("wk")
        .agg(F.min("doc_id").alias("d_lo"), F.max("doc_id").alias("d_hi"))
        .filter(F.col("d_lo") != F.col("d_hi"))
        .select("wk")
    )
    covered = (
        wins.join(shared, "wk")
        .selectExpr("doc_id", f"explode(sequence(i, i + {w} - 1)) AS pos")
        .distinct()
    )
    wpos = Window.partitionBy("doc_id").orderBy("pos")
    return (
        covered.withColumn("grp", F.col("pos") - F.row_number().over(wpos))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            F.max("pos").cast("long").alias("span_end"),
            F.count("*").cast("long").alias("span_len"),
        )
        .select("doc_id", "span_start", "span_end", "span_len")
    )


def _substring_spans_sql() -> str:
    w = _SUBSTR_W
    return f"""
WITH toks AS (
  SELECT doc_id, tokens, CAST(len(tokens) AS BIGINT) AS n_tokens
  FROM (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents)
  WHERE len(tokens) >= {w}
),
wins AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS i,
    hash(array_to_string(tokens[u.i:u.i+{w}-1], ' ')) AS wk
  FROM toks, UNNEST(range(1, n_tokens - {w} + 2)) AS u(i)
),
shared AS (SELECT wk FROM wins GROUP BY wk HAVING min(doc_id) <> max(doc_id)),
covered AS (
  SELECT DISTINCT doc_id, i + p.off AS pos
  FROM (SELECT doc_id, i FROM wins JOIN shared USING (wk)),
    UNNEST(range(0, {w})) AS p(off)
),
runs AS (
  SELECT doc_id, pos,
    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM covered
)
SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
  CAST(MAX(pos) AS BIGINT) AS span_end,
  CAST(COUNT(*) AS BIGINT) AS span_len
FROM runs GROUP BY doc_id, grp
"""


def _substring_sql() -> str:
    w = _SUBSTR_W
    return f"""
WITH toks AS (
  SELECT doc_id, tokens, CAST(len(tokens) AS BIGINT) AS n_tokens
  FROM (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents)
  WHERE len(tokens) >= {w}
),
wins AS (
  SELECT doc_id, n_tokens, CAST(u.i AS BIGINT) AS i,
    hash(array_to_string(tokens[u.i:u.i+{w}-1], ' ')) AS wk
  FROM toks, UNNEST(range(1, n_tokens - {w} + 2)) AS u(i)
),
shared AS (SELECT wk FROM wins GROUP BY wk HAVING min(doc_id) <> max(doc_id)),
hits AS (SELECT doc_id, i FROM wins JOIN shared USING (wk)),
covered AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_tokens FROM (
    SELECT DISTINCT doc_id, i + p.off AS pos
    FROM hits, UNNEST(range(0, {w})) AS p(off)
  ) GROUP BY doc_id
),
shared_cnt AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS shared_windows
  FROM hits GROUP BY doc_id
),
base AS (
  SELECT doc_id, n_tokens, CAST(COUNT(*) AS BIGINT) AS n_windows
  FROM wins GROUP BY doc_id, n_tokens
)
SELECT b.doc_id, b.n_tokens, b.n_windows,
  COALESCE(s.shared_windows, 0) AS shared_windows,
  COALESCE(c.dup_tokens, 0) AS dup_tokens,
  COALESCE(c.dup_tokens, 0) / CAST(b.n_tokens AS DOUBLE) AS dup_token_frac
FROM base b
LEFT JOIN shared_cnt s ON b.doc_id = s.doc_id
LEFT JOIN covered c ON b.doc_id = c.doc_id
"""


def register_all() -> None:
    register("text_profile", q_text_profile, _profile_sql())
    register("text_pii_scrub", q_pii_scrub, _pii_sql())
    register("corpus_curate", q_curate_corpus, _curate_sql())
    register("text_tfidf_topterms", q_tfidf_topterms, _tfidf_sql())
    register("dedup_components", q_dedup_components, _components_sql())
    register("dedup_exact", q_dedup_exact, SQL_DEDUP_EXACT)
    register("dedup_ngram_jaccard", q_ngram_jaccard, SQL_NGRAM_JACCARD)
    register("dedup_minhash", q_dedup_minhash, _minhash_sql())
    register("dedup_simhash", q_dedup_simhash, _simhash_sql())
    # pytest-verified tier (driver report caps at 50 rows): the four
    # standalone text-analysis formulations are the per-op views of
    # text_profile (same expression constants); minhash_accuracy is a
    # metric companion of the driver-checked dedup_minhash
    register("text_stats", q_text_stats, SQL_TEXT_STATS)
    register("text_langid", q_text_langid, _langid_sql())
    register("text_token_count", q_token_count, SQL_TOKEN_COUNT)
    register(
        "text_bpe_merges_converged",
        q_bpe_merges_converged,
        _sql_bpe_merges_converged(),
    )
    register(
        "text_bpe_encode_converged",
        q_bpe_encode_converged,
        _sql_bpe_encode_converged(),
    )
    register("text_fingerprint", q_fingerprint, SQL_FINGERPRINT)
    register("text_quality_gopher", q_quality_gopher, SQL_QUALITY_GOPHER)
    register("dedup_incremental", q_dedup_incremental, _incremental_sql())
    register("dedup_chunks", q_dedup_chunks, _chunks_sql())
    register("dedup_soft_weights", q_dedup_soft, SQL_DEDUP_SOFT)
    register("dedup_substring", q_dedup_substring, _substring_sql())
    register(
        "dedup_substring_spans", q_dedup_substring_spans, _substring_spans_sql()
    )
    register("dedup_containment", q_ngram_containment, SQL_NGRAM_CONTAINMENT)
