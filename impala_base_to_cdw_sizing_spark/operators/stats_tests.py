"""Contingency-table independence testing (late r8).

``rel_chi2_independence`` — Pearson's chi-square test of independence
between ``event_type`` and hour-of-day over the events table: the
data-profiling question ("does traffic mix shift by hour?") every
warehouse quality suite asks, and a different statistic family from
the drift tier (PSI compares two snapshots of ONE dimension;
chi-square tests the joint distribution of TWO dimensions in one
snapshot).

Determinism contract — the identity χ² = Σ obs²·N/(row·col) − N is
computed in a magnitude-safe integer sequence (every step BIGINT, no
floats until the final display division):

    q1_micro = (obs² · 10^6) DIV (row · col)      -- ≤ 10^6, since obs ≤ min(row, col)
    cell     = q1_micro · N
    χ²_micro = Σ cell − N · 10^6

obs² · 10^6 and row·col both stay far under 2^63 at every tested sf
(obs ≤ ~3·10^5 at sf3); per-cell truncation is < 1 micro-unit and
strictly DOWNWARD, so the true statistic lies in
[chi2, chi2 + cells·N·10^-6] — reported as ``chi2_err_bound``, and the
``reject_independence_05`` decision is three-valued: TRUE only when the
understated χ² already clears the critical value, FALSE only when even
χ² + bound stays below it, NULL in the indeterminate window (r8 ADVICE:
at ~10^6+ events × ~120 cells the bias approaches the df=115 critical
value, so an unbounded decision could silently flip). Bit-identical
cross-engine because both engines execute the same integer DIV
sequence. At petabyte counts the same sequence upgrades to
DECIMAL(38,0) verbatim.

The 5% critical value is resolved from a small broadcast dimension of
chi-square quantiles (Wilson–Hilferty would need float pow) — the df
observed here (types−1)·(hours−1) is looked up exactly; unseen dfs
surface as NULL rather than a silently-wrong cutoff.

Scale: two partial-agg passes (contingency cells, then margins derived
FROM the cells — the raw table is scanned once), cells are
|types|·24 rows; everything after the first groupBy is constant-size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.files import read_input, load_events

_MICRO = 1_000_000

# chi-square 95th percentile for the dfs this contingency shape can
# produce (R-1)(C-1) with R=2..6 types, C=24 hours (plus df=1 for the
# 2x2 fixture tests): df = 1,23,46,69,92,115
_CHI2_CRIT_05 = {
    1: 3.841,
    23: 35.172,
    46: 62.830,
    69: 89.391,
    92: 115.390,
    115: 141.030,
}


def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).selectExpr(
        "event_type", "CAST((ts DIV 3600000000000) % 24 AS BIGINT) AS hod"
    )
    cells = ev.groupBy("event_type", "hod").agg(
        F.count("*").cast("long").alias("obs")
    )
    return chi2_from_cells(spark, cells)


def chi2_from_cells(spark: SparkSession, cells: DataFrame) -> DataFrame:
    """The test statistic over a prepared (event_type, hod, obs)
    contingency frame — split out so fixtures with KNOWN dependence
    structure can drive the same arithmetic the registered query runs."""
    # margins from the cells, not the raw table — one corpus scan total
    rows = cells.groupBy("event_type").agg(F.sum("obs").alias("row_n"))
    cols = cells.groupBy("hod").agg(F.sum("obs").alias("col_n"))
    joined = (
        cells.join(F.broadcast(rows), "event_type")
        .join(F.broadcast(cols), "hod")
        .selectExpr(
            "event_type",
            "hod",
            "obs",
            f"(obs * obs * CAST({_MICRO} AS BIGINT)) DIV (row_n * col_n)"
            " AS q1_micro",
        )
    )
    crit = spark.createDataFrame(
        [(df, c) for df, c in sorted(_CHI2_CRIT_05.items())],
        "dof BIGINT, crit_05 DOUBLE",
    )
    summary = joined.agg(
        F.sum("obs").cast("long").alias("n_total"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.countDistinct("hod").cast("long").alias("n_hods"),
        F.count("*").cast("long").alias("n_cells"),
        F.sum("q1_micro").cast("long").alias("sum_q1_micro"),
    ).selectExpr(
        "n_total",
        "n_types",
        "n_hods",
        "(n_types - 1) * (n_hods - 1) AS dof",
        f"sum_q1_micro * n_total - n_total * CAST({_MICRO} AS BIGINT)"
        " AS chi2_micro",
        # each q1_micro floors by < 1 micro-unit, so the TRUE statistic
        # lies in [chi2_micro, chi2_micro + n_cells·N) — a one-sided bound
        "n_cells * n_total AS err_micro",
    )
    # chi2 = N·Σ(obs²/(row·col)) − N, so Σq1·N − N·1e6 IS χ²·1e6 —
    # q1 summed first, then ·N: identical association order both engines.
    # The decision is only emitted when the one-sided truncation bound
    # cannot flip it (r8 ADVICE: at ~10^6+ events the bias approaches the
    # critical value): reject TRUE needs chi2_micro > crit alone (the
    # computed value UNDERstates), fail-to-reject needs
    # chi2_micro + err_micro <= crit, the in-between window is NULL.
    return (
        summary.selectExpr(
            "n_total",
            "n_types",
            "n_hods",
            "dof",
            "chi2_micro",
            "err_micro",
            f"CAST(chi2_micro AS DOUBLE) / {_MICRO}.0 AS chi2",
            f"CAST(err_micro AS DOUBLE) / {_MICRO}.0 AS chi2_err_bound",
        )
        .join(F.broadcast(crit), "dof", "left")
        .selectExpr(
            "n_total",
            "n_types",
            "n_hods",
            "dof",
            "chi2",
            "chi2_err_bound",
            "crit_05",
            "CASE WHEN crit_05 IS NULL THEN NULL"
            f" WHEN chi2_micro > CAST(floor(crit_05 * {_MICRO} + 0.5) AS BIGINT)"
            " THEN TRUE"
            f" WHEN chi2_micro + err_micro <= CAST(floor(crit_05 * {_MICRO} + 0.5) AS BIGINT)"
            " THEN FALSE"
            " ELSE NULL END AS reject_independence_05",
        )
    )


# Benford first-digit probabilities log10(1+1/d), micro-quantized
_BENFORD_MICRO = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}
_CHI2_CRIT_05_DF8 = 15.507


def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        read_input(spark, sf_dir, "orders")
        .selectExpr(
            # floor first, then string-slice: CAST(double AS BIGINT)
            # truncates in Spark but ROUNDS in DuckDB (the r4 ulp class),
            # floor() is the shared exact step. Prices are > 1000, so the
            # integer part always has a leading digit.
            "substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING),"
            " 1, 1) AS digit"
        )
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n_obs"))
    )
    return benford_from_digit_counts(spark, ev)


def benford_from_digit_counts(
    spark: SparkSession, counts: DataFrame
) -> DataFrame:
    """Benford first-digit conformance over a prepared (digit, n_obs)
    frame — split out (the ``chi2_from_cells`` pattern) so fixtures
    with KNOWN conformance drive the same arithmetic: a geometric
    sample accepts, the corpus's uniform prices reject, and both are
    pinned in tests rather than assumed.

    The probs dimension is the LEFT side of the join, so a first digit
    with zero observations still contributes its full
    (0 − n_expected)²/n_expected term (r8 ADVICE — an inner join
    silently dropped the digit and understated χ² on degenerate input).

    Arithmetic: expected count = (N · p_micro) DIV 10^6 (BIGINT);
    per-digit contribution = (diff² · 10^3) DIV expected — MILLI units,
    not micro, so diff² · scale stays far under 2^63 even at 10^7 rows
    (the chi-square magnitude analysis, one decade tighter). χ² is the
    milli-sum / 10^3, compared against the df=8 critical value.
    """
    probs = spark.createDataFrame(
        [(str(d), p) for d, p in sorted(_BENFORD_MICRO.items())],
        "digit STRING, p_micro BIGINT",
    )
    # LEFT join FROM the 9-row probs dimension (r8 ADVICE): a first digit
    # with zero observations must still contribute (0 − n_expected)²/n_e,
    # otherwise χ² is understated for degenerate inputs.
    per_digit = (
        probs.join(F.broadcast(counts), "digit", "left")
        .selectExpr(
            "digit",
            "p_micro",
            "COALESCE(n_obs, CAST(0 AS BIGINT)) AS n_obs",
        )
        .crossJoin(
            F.broadcast(counts.agg(F.sum("n_obs").cast("long").alias("n_total")))
        )
        .selectExpr(
            "digit",
            "n_obs",
            "n_total",
            "(n_total * p_micro) DIV 1000000 AS n_expected",
        )
        .selectExpr(
            "digit",
            "n_obs",
            "n_total",
            "n_expected",
            "((n_obs - n_expected) * (n_obs - n_expected) * 1000)"
            " DIV n_expected AS contrib_milli",
        )
    )
    total = per_digit.agg(
        F.sum("contrib_milli").cast("long").alias("chi2_milli")
    )
    return per_digit.crossJoin(F.broadcast(total)).selectExpr(
        "digit",
        "n_obs",
        "n_expected",
        "contrib_milli",
        "CAST(chi2_milli AS DOUBLE) / 1000.0 AS chi2",
        f"CAST(chi2_milli AS DOUBLE) / 1000.0 > {_CHI2_CRIT_05_DF8}"
        " AS reject_benford_05",
    )


# --- Cramér's V effect size (late r9) ----------------------------------------


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V = sqrt(χ² / (N·min(r−1, c−1))) over the same
    event_type × hour-of-day contingency table — the EFFECT SIZE the
    chi-square test alone does not give (χ² grows with N even when the
    association is trivially weak; V is scale-free in [0, 1], the number
    a 100 TB profile actually wants).

    Arithmetic rides the chi-square integer pipeline unchanged:
    ``chi2`` is exactly chi2_micro/10^6 in both engines, N·min(r−1,c−1)
    is an exact BIGINT cast to double below 2^52, and the final
    division + sqrt are single correctly-rounded IEEE ops — bit-equal
    cross-engine. ``cramers_v_upper`` propagates the one-sided per-cell
    truncation bound through the same monotone chain, so the TRUE V is
    bracketed by [cramers_v, cramers_v_upper]."""
    return q_chi2_independence(spark, sf_dir).selectExpr(
        "n_total",
        "dof",
        "chi2",
        "least(n_types - 1, n_hods - 1) AS min_rc",
        "sqrt(chi2 / CAST(n_total * least(n_types - 1, n_hods - 1)"
        " AS DOUBLE)) AS cramers_v",
        "sqrt((chi2 + chi2_err_bound) / CAST(n_total"
        " * least(n_types - 1, n_hods - 1) AS DOUBLE)) AS cramers_v_upper",
    )
