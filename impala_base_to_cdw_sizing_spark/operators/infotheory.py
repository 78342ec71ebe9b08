"""Information-theoretic segment comparison: Shannon entropy and
Jensen-Shannon divergence of the event-type distribution, weekday vs
weekend.

The distribution-drift tier (`rel_drift_psi`) bins and scores; this is
the exact-information view: H(weekday), H(weekend), H(mixture) and
JSD = H(M) − (H(P)+H(Q))/2 with M = (P+Q)/2 — the symmetric, bounded
[0, ln 2] divergence a corpus-mixture monitor wants (PSI explodes on
near-zero bins; JSD does not).

Exact cross-engine arithmetic throughout, reusing the det-ln
construction (curation.py): every probability is a ratio of exact
BIGINT counts; ln goes through the shared 16-sqrt/atanh expression
text, quantized to integer micro-nats BEFORE any sum, so the per-type
reduction is order-independent. Σ n_i·w_micro products are
DECIMAL(19,0)×DECIMAL(19,0) → DECIMAL(38,0) (n_i·w can pass 2^63 at
100 TB) and the one final division per entropy converts numerator and
denominator through the exact STRING route — identical doubles in
Spark and DuckDB at any magnitude.

Zero-count types contribute 0 (the x·ln x → 0 limit) via an explicit
CASE, so a type absent from one segment is handled, not NULLed —
JSD stays finite where KL would not (the reason JSD is the monitor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.files import load_events
from .curation import _DET_LN_W, _DET_LN_Y, _DET_LN_Z, _DET_LN_Z2
from .queries_ext import register

_DAY_NS = 86_400_000_000_000

# dow 0 = Monday (epoch day 0 = Thursday → (0+3) % 7 = 3); both engines
# share the integer expression, so the convention cancels out of parity
_SEG = f"CASE WHEN (CAST(ts_day + 3 AS BIGINT)) % 7 >= 5 THEN 1 ELSE 0 END"

# micro-nat ln of a prepared exact ratio column, as a 4-stage chain the
# oracle CTEs repeat verbatim (the det-ln contract: same text, same
# doubles)
def _ln_micro_chain(df: DataFrame, keep: list[str]) -> DataFrame:
    return (
        df.selectExpr(*keep, f"{_DET_LN_Y} AS y")
        .selectExpr(*keep, f"{_DET_LN_Z} AS z")
        .selectExpr(*keep, "z", f"{_DET_LN_Z2} AS z2")
        .selectExpr(*keep, f"{_DET_LN_W} AS w_micro")
    )


def q_entropy_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).selectExpr(
        "event_type", f"CAST(ts DIV {_DAY_NS} AS BIGINT) AS ts_day"
    ).selectExpr("event_type", f"{_SEG} AS seg")
    counts = ev.groupBy("event_type", "seg").agg(
        F.count("*").cast("long").alias("n")
    )
    # full (type × segment) grid so absent cells carry n = 0
    grid = (
        counts.select("event_type").distinct()
        .crossJoin(spark.range(2).selectExpr("CAST(id AS INT) AS seg"))
        .join(counts, ["event_type", "seg"], "left")
        .selectExpr("event_type", "seg", "CAST(coalesce(n, 0) AS BIGINT) AS n")
    )
    totals = grid.groupBy("seg").agg(F.sum("n").cast("long").alias("nt"))
    cells = grid.join(F.broadcast(totals), "seg")
    # per-segment entropy: sum n·ln(n/nt) in micro-nat DECIMAL units
    seg_ln = _ln_micro_chain(
        cells.filter("n > 0").selectExpr(
            "seg", "event_type", "n", "nt",
            "CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) AS ratio",
        ),
        ["seg", "event_type", "n", "nt"],
    )
    seg_h = (
        seg_ln.selectExpr(
            "seg",
            "nt",
            "CAST(n AS DECIMAL(19,0)) * CAST(w_micro AS DECIMAL(19,0))"
            " AS nw",
        )
        .groupBy("seg", "nt")
        .agg(F.sum("nw").alias("nw_sum"))
        .selectExpr(
            "seg",
            "-(CAST(CAST(nw_sum AS STRING) AS DOUBLE))"
            " / (CAST(nt AS DOUBLE) * 1000000.0) AS h",
        )
    )
    # mixture M = (P+Q)/2: m_i = (np_i·nq + nq_i·np) / (2·np·nq) — the
    # ratio of exact integers; its ln feeds Σ num_i·w, with num_i and
    # the denominator both DECIMAL-exact before the STRING→DOUBLE step
    wide = (
        grid.groupBy("event_type")
        .pivot("seg", [0, 1])
        .sum("n")
        .selectExpr(
            "event_type",
            "CAST(coalesce(`0`, 0) AS BIGINT) AS n_p",
            "CAST(coalesce(`1`, 0) AS BIGINT) AS n_q",
        )
    )
    tp = totals.groupBy().pivot("seg", [0, 1]).sum("nt").selectExpr(
        "CAST(`0` AS BIGINT) AS np", "CAST(`1` AS BIGINT) AS nq"
    )
    # degenerate-corpus guard (r9 ADVICE): if one segment is empty
    # (np = 0 or nq = 0) the mixture ratio divides by zero and the two
    # engines disagree on the wreckage (empty frame vs NULL/inf row).
    # Both dialects filter the identical predicate, so the degenerate
    # case is a defined, parity-checked 0-row result.
    mix = wide.crossJoin(F.broadcast(tp)).filter(
        "n_p + n_q > 0 AND np > 0 AND nq > 0"
    ).selectExpr(
        "event_type",
        "np",
        "nq",
        "CAST(CAST(n_p AS DECIMAL(19,0)) * CAST(nq AS DECIMAL(19,0))"
        " + CAST(n_q AS DECIMAL(19,0)) * CAST(np AS DECIMAL(19,0))"
        " AS DECIMAL(25,0)) AS num",
        "CAST(CAST(CAST(n_p AS DECIMAL(19,0)) * CAST(nq AS DECIMAL(19,0))"
        " + CAST(n_q AS DECIMAL(19,0)) * CAST(np AS DECIMAL(19,0))"
        " AS STRING) AS DOUBLE)"
        " / CAST(CAST(CAST(2 * np AS DECIMAL(19,0))"
        " * CAST(nq AS DECIMAL(19,0)) AS STRING) AS DOUBLE) AS ratio",
    )
    mix_h = (
        _ln_micro_chain(mix, ["event_type", "np", "nq", "num"])
        .selectExpr(
            "np", "nq",
            "num * CAST(w_micro AS DECIMAL(13,0)) AS nw",
        )
        .groupBy("np", "nq")
        .agg(F.sum("nw").alias("nw_sum"))
        .selectExpr(
            "np",
            "nq",
            "-(CAST(CAST(nw_sum AS STRING) AS DOUBLE))"
            " / CAST(CAST(CAST(2 * np AS DECIMAL(19,0))"
            " * CAST(nq * 1000000 AS DECIMAL(19,0)) AS STRING) AS DOUBLE)"
            " AS h_mixture",
        )
    )
    hp = seg_h.filter("seg = 0").selectExpr("h AS h_weekday")
    hq = seg_h.filter("seg = 1").selectExpr("h AS h_weekend")
    return (
        mix_h.crossJoin(F.broadcast(hp))
        .crossJoin(F.broadcast(hq))
        .selectExpr(
            "np AS n_weekday",
            "nq AS n_weekend",
            "h_weekday",
            "h_weekend",
            "h_mixture",
            "h_mixture - (h_weekday + h_weekend) / 2.0 AS jsd_nats",
        )
    )


_SQL_LN = f"""
  SELECT *, {_DET_LN_W} AS w_micro FROM (
    SELECT *, {_DET_LN_Z2} AS z2 FROM (
      SELECT *, {_DET_LN_Z} AS z FROM (
        SELECT *, {_DET_LN_Y} AS y FROM {{src}}
      )
    )
  )
"""

SQL_ENTROPY_JSD = f"""
WITH ev AS (
  SELECT event_type,
    CASE WHEN (CAST(epoch_ns(ts) // {_DAY_NS} + 3 AS BIGINT)) % 7 >= 5
      THEN 1 ELSE 0 END AS seg
  FROM events
),
counts AS (
  SELECT event_type, seg, CAST(COUNT(*) AS BIGINT) AS n
  FROM ev GROUP BY 1, 2
),
grid AS (
  SELECT t.event_type, s.seg, CAST(coalesce(c.n, 0) AS BIGINT) AS n
  FROM (SELECT DISTINCT event_type FROM counts) t
  CROSS JOIN (SELECT UNNEST([0, 1]) AS seg) s
  LEFT JOIN counts c ON c.event_type = t.event_type AND c.seg = s.seg
),
totals AS (
  SELECT seg, CAST(SUM(n) AS BIGINT) AS nt FROM grid GROUP BY 1
),
seg_ratio AS (
  SELECT g.seg, g.event_type, g.n, t.nt,
    CAST(g.n AS DOUBLE) / CAST(t.nt AS DOUBLE) AS ratio
  FROM grid g JOIN totals t USING (seg) WHERE g.n > 0
),
seg_ln AS ({_SQL_LN.format(src="seg_ratio")}),
seg_h AS (
  SELECT seg,
    -(CAST(CAST(SUM(CAST(n AS DECIMAL(19,0))
        * CAST(w_micro AS DECIMAL(19,0))) AS STRING) AS DOUBLE))
      / (CAST(any_value(nt) AS DOUBLE) * 1000000.0) AS h
  FROM seg_ln GROUP BY seg
),
wide AS (
  SELECT event_type,
    CAST(SUM(CASE WHEN seg = 0 THEN n ELSE 0 END) AS BIGINT) AS n_p,
    CAST(SUM(CASE WHEN seg = 1 THEN n ELSE 0 END) AS BIGINT) AS n_q
  FROM grid GROUP BY 1
),
tp AS (
  SELECT
    CAST(SUM(CASE WHEN seg = 0 THEN nt END) AS BIGINT) AS np,
    CAST(SUM(CASE WHEN seg = 1 THEN nt END) AS BIGINT) AS nq
  FROM totals
),
mix_ratio AS (
  SELECT event_type, np, nq,
    CAST(CAST(n_p AS DECIMAL(19,0)) * CAST(nq AS DECIMAL(19,0))
      + CAST(n_q AS DECIMAL(19,0)) * CAST(np AS DECIMAL(19,0))
      AS DECIMAL(25,0)) AS num,
    CAST(CAST(CAST(n_p AS DECIMAL(19,0)) * CAST(nq AS DECIMAL(19,0))
      + CAST(n_q AS DECIMAL(19,0)) * CAST(np AS DECIMAL(19,0))
      AS STRING) AS DOUBLE)
      / CAST(CAST(CAST(2 * np AS DECIMAL(19,0))
      * CAST(nq AS DECIMAL(19,0)) AS STRING) AS DOUBLE) AS ratio
  FROM wide CROSS JOIN tp WHERE n_p + n_q > 0 AND np > 0 AND nq > 0
),
mix_ln AS ({_SQL_LN.format(src="mix_ratio")}),
mix_h AS (
  SELECT np, nq,
    -(CAST(CAST(SUM(num * CAST(w_micro AS DECIMAL(13,0))) AS STRING)
        AS DOUBLE))
      / CAST(CAST(CAST(2 * any_value(np) AS DECIMAL(19,0))
        * CAST(any_value(nq) * 1000000 AS DECIMAL(19,0)) AS STRING)
        AS DOUBLE) AS h_mixture
  FROM mix_ln GROUP BY np, nq
)
SELECT np AS n_weekday, nq AS n_weekend,
  (SELECT h FROM seg_h WHERE seg = 0) AS h_weekday,
  (SELECT h FROM seg_h WHERE seg = 1) AS h_weekend,
  h_mixture,
  h_mixture - ((SELECT h FROM seg_h WHERE seg = 0)
    + (SELECT h FROM seg_h WHERE seg = 1)) / 2.0 AS jsd_nats
FROM mix_h
"""


def register_all() -> None:
    register("rel_entropy_jsd", q_entropy_jsd, SQL_ENTROPY_JSD)
