"""The remaining TPC-H query patterns (Q2/Q8/Q9/Q11/Q12/Q14/Q15/Q16/Q17/
Q20/Q21/Q22), adapted to the testdata's reduced star schema.

With relational.py (Q1/Q3/Q4/Q5/Q6/Q7/Q13/Q18/Q19) this covers 21 of
the 22 TPC-H query *shapes* — each exercising a distinct physical pattern
the engine must plan correctly at 100 TB. The testdata has no ``partsupp``
table and no commit/receipt dates, so:

- ``partsupp`` is derived deterministically from ``lineitem`` as the
  distinct (partkey, suppkey) pairs with ``supplycost = min(unit price)``
  (``_psup`` below) — both engines compute the identical frame, so the
  min-cost-supplier pattern (Q2) runs unmodified on the derived view.
  Q9 costs supply at a 60%-of-retail stand-in instead; Q11 and Q20
  value parts and suppliers from ``lineitem`` directly.
- "late" lineitems (Q12/Q21's receipt>commit predicate) are adapted to
  ``l_returnflag = 'R'`` / ``l_shipdate > o_orderdate`` — the join and
  exists/not-exists shapes are the point, not the calendar columns.

Float determinism: every unordered SUM runs in DECIMAL(38,6)
(``aggregates.dsum``); scalar thresholds (Q11/Q15/Q17/Q22) are computed
from those exact sums, so cross-engine equality comparisons on the
derived doubles are exact, not tolerance-based.

Only Q9 is registered (``rel_tpch_q9_profit``, with its DuckDB
oracle). The other eleven are additional *compositions* of
already-declared join/agg/subquery operators that no query, CLI path or
tool runs; ``tests/test_tpch_gap.py`` pins them for non-vacuity and plan
shape until they are deleted with those tests (ROADMAP item 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .aggregates import dsum, dsum_sql
from .queries_ext import register
from ..sources.files import read_input


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_input(spark, sf_dir, name)


# Derived partsupp: one row per (partkey, suppkey) ever shipped, costed at
# the minimum observed unit price. MIN over doubles is order-independent,
# and the unit price is the same IEEE division in both engines.
def _psup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_supplycost"))
    )


# --- Q2: minimum-cost supplier (correlated MIN subquery over a join chain) -------


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: for each qualifying part, the EUROPE supplier(s) whose
    supplycost equals the regional minimum for that part. The Spark plan
    is the decorrelated form — aggregate the regional min per part once,
    equi-join back on (partkey, cost) — while the oracle states the
    textbook correlated subquery; Catalyst would decorrelate the SQL to
    this same plan, and the pair proves the two formulations agree."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur_supp = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eur_ps = _psup(spark, sf_dir).join(
        F.broadcast(eur_supp), F.col("ps_suppkey") == F.col("s_suppkey")
    )
    min_cost = eur_ps.groupBy("ps_partkey").agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    # no broadcast hint on min_cost: it is partkey-cardinality (grows
    # with SF) — the equi-join shuffles on ps_partkey and AQE broadcasts
    # at runtime only when the frame is actually small
    return (
        eur_ps.join(min_cost, "ps_partkey")
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
        .join(part, F.col("ps_partkey") == part.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            F.col("ps_supplycost").alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), F.col("n_name").asc(),
            F.col("s_name").asc(), F.col("p_partkey").asc(),
        )
        .limit(100)
    )


# --- Q8: market share (conditional share of a decimal-sum volume) ----------------


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: NATION_3 suppliers' share of AMERICA customers' order
    volume per year — the conditional-numerator / total-denominator share
    aggregate. Both sums run in decimal so the share division is exact."""
    nat = _t(spark, sf_dir, "nation")
    cust_nat = nat.selectExpr("n_nationkey AS cn_key", "n_regionkey AS cn_region")
    supp_nat = nat.selectExpr("n_nationkey AS sn_key", "n_name AS supp_nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    li = _t(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust_nat), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(reg), F.col("cn_region") == reg.r_regionkey)
        .join(F.broadcast(supp_nat), supp.s_nationkey == F.col("sn_key"))
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("o_year")
        .agg(
            dsum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0)).alias(
                "nation_volume"
            ),
            dsum(vol).alias("total_volume"),
        )
        .withColumn("mkt_share", F.col("nation_volume") / F.col("total_volume"))
    )


# --- Q9: product-line profit by nation and year ----------------------------------


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit per supplier nation per year over a LIKE-filtered
    part subset. Supply cost is the derived 60%-of-retail stand-in (the
    testdata has no ps_supplycost); the profit expression mixes two fact
    columns and a dim column — the multi-table arithmetic shape."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    li = _t(spark, sf_dir, "lineitem")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .withColumn("o_year", F.year("l_shipdate").cast("long"))
        .groupBy(F.col("n_name").alias("nation"), F.col("o_year"))
        .agg(dsum(profit).alias("sum_profit"), F.count("*").alias("n_lines"))
    )


SQL_Q9 = f"""
SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
  {dsum_sql('l_extendedprice * (1 - l_discount) - 0.6 * p_retailprice * l_quantity')}
    AS sum_profit,
  COUNT(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY 1, 2
"""


# --- Q11: important inventory (HAVING against a global scalar) -------------------


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: per-part value for one region's suppliers, kept only
    where it exceeds a multiple of the AVERAGE part value — a group-by
    whose HAVING references a scalar aggregate of the same frame (the
    original's fraction-of-total threshold is SF-dependent; avg-relative
    is the same plan shape and non-vacuous at every scale factor). The
    scalar is a 1-row broadcast cross join; the per-part frame is
    computed once and reused for the average, not re-scanned."""
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    li = _t(spark, sf_dir, "lineitem")
    value = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("l_partkey")
        .agg(dsum(value).alias("part_value"))
    )
    avg_value = per_part.agg(
        (
            F.sum(F.col("part_value").cast("decimal(38,6)")).cast("double")
            / F.count("*")
        ).alias("avg_value")
    )
    return (
        per_part.crossJoin(F.broadcast(avg_value))
        .filter(F.col("part_value") > 1.5 * F.col("avg_value"))
        .select("l_partkey", "part_value")
    )


# --- Q12: late shipments by priority class (two-level conditional counts) --------


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: join fact-to-fact, then CASE-bucketed counts per group —
    the high/low-priority split of late lineitems. Adapted: "late" is
    ``l_shipdate > o_orderdate`` (no commit/receipt dates in testdata) and
    the group key is ``l_linestatus`` (no shipmode column)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(li.l_shipdate > orders.o_orderdate)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


# --- Q14: promotion revenue share (conditional share, single join) ---------------


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-09-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-10-01")))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            dsum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0)).alias(
                "promo_revenue"
            ),
            dsum(vol).alias("total_revenue"),
        )
        .withColumn(
            "promo_pct", 100.0 * F.col("promo_revenue") / F.col("total_revenue")
        )
    )


# --- Q15: top supplier (view + equality against its own MAX) ---------------------


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: a revenue view reused twice — once grouped, once for its
    MAX — with an equality filter joining the two. The decimal revenue
    sums make the double equality exact in both engines. The view is
    localCheckpoint-ed (Spark would otherwise recompute the aggregation
    for each use; the blocks release on GC, unlike cache(), so repeated
    registry runs don't accumulate storage)."""
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-04-01")))
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        ))
    ).localCheckpoint(eager=True)
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "s_acctbal", "total_revenue")
    )


# --- Q16: supplier counts by part attribute (NOT-IN + count distinct) ------------


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct supplier count per part attribute triple, with
    a NOT-IN exclusion subquery (negative-balance suppliers stand in for
    the comment-flagged complaints). The NOT IN becomes a left-anti
    broadcast join on the tiny exclusion set."""
    li_pairs = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .distinct()
    )
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    bad_supp = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("bad_key"))
    return (
        li_pairs.join(part, F.col("ps_partkey") == part.p_partkey)
        .join(
            F.broadcast(bad_supp),
            F.col("ps_suppkey") == F.col("bad_key"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


# --- Q17: small-quantity revenue (correlated AVG against the same fact) ----------


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: lineitems below 30% of their part's average quantity —
    the correlated-AVG-on-the-same-fact pattern. Decorrelated as a
    per-part aggregate joined back (what Catalyst produces for the SQL
    form); the per-part average runs as exact decimal-sum / count so the
    0.3×avg threshold (widened from TPC-H's 0.2 so the fixture corpus
    admits lines at every test scale) compares identically in both
    engines."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#5") & (F.col("p_size") < 25)
    )
    li = _t(spark, sf_dir, "lineitem")
    per_part_avg = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        (dsum(F.col("l_quantity")) / F.count("*")).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(per_part_avg, li.l_partkey == F.col("ap_key"))
        .filter(F.col("l_quantity") < 0.3 * F.col("avg_qty"))
        .agg(
            (dsum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


# --- Q20: dominant suppliers (nested semi-join chain) ----------------------------


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: suppliers qualified through a nested subquery chain —
    part-name filter → per-(part, supplier) shipped quantity in a year →
    threshold against the part's total → semi-join up to the supplier
    list. Adapted threshold: the supplier's own 1998 volume for the part
    exceeds 30% of ALL suppliers' 1998 volume for it ("dominant
    supplier"; the original compares availqty, which the testdata lacks).
    Every step is an equi-join or aggregate — no correlated execution."""
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp = _t(spark, sf_dir, "supplier")
    part_ids = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li98 = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1998-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1999-01-01")))
        )
        .join(F.broadcast(part_ids), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    )
    per_ps = li98.groupBy("l_partkey", "l_suppkey").agg(
        dsum(F.col("l_quantity")).alias("supp_qty")
    )
    per_part = li98.groupBy(F.col("l_partkey").alias("tp_key")).agg(
        dsum(F.col("l_quantity")).alias("part_qty")
    )
    dominant = (
        per_ps.join(per_part, per_ps.l_partkey == F.col("tp_key"))
        .filter(F.col("supp_qty") > 0.3 * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .join(dominant, supp.s_suppkey == dominant.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
    )


# --- Q21: suppliers who kept orders waiting (EXISTS + NOT EXISTS self-joins) -----


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: per-supplier count of multi-supplier orders where ONLY
    this supplier failed — one EXISTS (another supplier in the order) and
    one NOT EXISTS (another supplier also failed) against the same fact.
    Adapted: "failed" is ``l_returnflag = 'R'`` on an ``o_orderstatus =
    'F'`` order. Both quantifiers compile to one aggregated self-frame:
    per (order, supplier) roll-up, then per-order supplier/failure counts
    — two shuffles total, no correlated re-scans."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = _t(spark, sf_dir, "supplier")
    per_os = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_semi")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max((F.col("l_returnflag") == "R").cast("int")).alias("failed"))
    )
    per_order = per_os.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.count("*").alias("n_supp"),
        F.sum("failed").alias("n_failed"),
    )
    waiting = (
        per_os.filter(F.col("failed") == 1)
        .join(per_order, per_os.l_orderkey == F.col("ok"))
        .filter((F.col("n_supp") > 1) & (F.col("n_failed") == 1))
    )
    return (
        waiting.join(F.broadcast(supp), waiting.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


# --- Q22: idle high-balance customers (anti join + scalar AVG subquery) ----------


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: customers in selected "country codes" with
    above-average positive balance and NO RECENT orders — a scalar
    subquery threshold plus an anti join. Adapted: the code is
    ``c_nationkey % 10`` (no phone column) and "idle" means no order
    since 2000-07-01 (every customer has SOME order in this corpus, so
    the original's all-time NOT EXISTS would be vacuous; the recency
    predicate pushes into the anti-join side's scan). The average is
    exact decimal-sum / count."""
    codes = (1, 3, 5, 7)
    cust = _t(spark, sf_dir, "customer").withColumn(
        "cntrycode", (F.col("c_nationkey") % 10).cast("long")
    )
    in_codes = cust.filter(F.col("cntrycode").isin(*codes))
    avg_bal = in_codes.filter(F.col("c_acctbal") > 0).agg(
        (dsum(F.col("c_acctbal")) / F.count("*")).alias("avg_bal")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-07-01")))
        .select("o_custkey")
    )
    return (
        in_codes.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, in_codes.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


def register_all() -> None:
    register("rel_tpch_q9_profit", q_tpch_q9, SQL_Q9)
