"""Generic relational operator coverage (SURVEY.md §2.J gap table).

The reference has no joins, set ops, rollups, or top-k beyond its range
lookup; the survey routes that coverage through a TPC-H-style corpus over
the driver's star schema. Each query here exercises one physical pattern
the engine must get right at 100 TB:

- q1   : scan + predicate pushdown + hash aggregate (map-side partial)
- q3   : selective broadcast dim join + agg + deterministic top-k
- q5   : multi-join star (broadcast small dims, shuffle only the fact)
- q9   : profit arithmetic over a LIKE-filtered part subset joined through
         supplier and nation (supply cost is a 60%-of-retail stand-in:
         the testdata has no partsupp table)
- semi/anti joins: EXISTS/NOT EXISTS without materializing the right side
- top-k per group: ranked window with partition pruning
- set ops: INTERSECT/EXCEPT via shuffle-dedup
- rollup: grouping sets in one pass
- sessionize: gap-based sessions with a per-key ordered window
- hourly: epoch-aligned tumbling window (batch analog of streaming)

Float determinism: every unordered SUM goes through DECIMAL(38,6)
(``aggregates.dsum``); orderings that feed LIMIT are totalized with key
tie-breaks so Spark and DuckDB return identical rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .aggregates import dsum, dsum_sql
from .queries_ext import register
from ..sources.files import read_input


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_input(spark, sf_dir, name)


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.files import load_events

    return load_events(spark, sf_dir)


# --- q1: pricing summary (scan + agg) ----------------------------------------


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
        .withColumns(
            {
                "avg_qty": F.col("sum_qty") / F.col("count_order"),
                "avg_price": F.col("sum_base_price") / F.col("count_order"),
            }
        )
    )


SQL_Q1 = f"""
SELECT l_returnflag, l_linestatus,
  {dsum_sql('l_quantity')} AS sum_qty,
  {dsum_sql('l_extendedprice')} AS sum_base_price,
  {dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
  {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
  COUNT(*) AS count_order,
  {dsum_sql('l_quantity')} / COUNT(*) AS avg_qty,
  {dsum_sql('l_extendedprice')} / COUNT(*) AS avg_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --- q3: shipping-priority top-k ----------------------------------------------


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-01-01"))
    )
    return (
        li.join(
            orders.join(
                F.broadcast(cust), orders.o_custkey == cust.c_custkey
            ).select("o_orderkey", "o_orderdate", "o_orderpriority"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select(
            "o_orderkey",
            "revenue",
            # parquet gives TIMESTAMP_NTZ; session TZ is UTC so the cast is exact
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("orderdate_ms"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


SQL_Q3 = f"""
SELECT o_orderkey,
  {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
  epoch_ms(o_orderdate) AS orderdate_ms,
  o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


# --- q5: star multi-join ------------------------------------------------------


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


SQL_Q5 = f"""
SELECT n_name,
  {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


# --- q7: bilateral volume by year (temporal extraction + multi-join) -----------


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue flow between two nation pairs per year —
    customer nation × supplier nation with calendar-year extraction
    (year() verified engine-identical)."""
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n1 = nation.selectExpr("n_nationkey AS c_nk", "n_name AS cust_nation")
    n2 = nation.selectExpr("n_nationkey AS s_nk", "n_name AS supp_nation")
    pair = (("NATION_1", "NATION_2"), ("NATION_2", "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(n2), supp.s_nationkey == F.col("s_nk"))
        .filter(
            ((F.col("cust_nation") == pair[0][0]) & (F.col("supp_nation") == pair[0][1]))
            | ((F.col("cust_nation") == pair[1][0]) & (F.col("supp_nation") == pair[1][1]))
        )
        .withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("cust_nation", "supp_nation", "l_year")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


SQL_Q7 = f"""
SELECT cust_nation, supp_nation, l_year,
  {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
  COUNT(*) AS n_items
FROM (
  SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
    CAST(year(l_shipdate) AS BIGINT) AS l_year,
    l_extendedprice, l_discount
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
)
GROUP BY cust_nation, supp_nation, l_year
"""


# --- q9: product-line profit by nation and year (multi-table arithmetic) ------


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit per supplier nation per year over a LIKE-filtered
    part subset. Supply cost is a 60%-of-retail stand-in (the
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


# --- semi / anti joins ---------------------------------------------------------


def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    with_orders = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_with_orders"))
    )
    without = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_without_orders"))
    )
    return (
        with_orders.join(without, "c_mktsegment", "full_outer")
        .select(
            "c_mktsegment",
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
            F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
        )
    )


SQL_SEMI_ANTI = """
SELECT c_mktsegment,
  COUNT(*) FILTER (WHERE EXISTS (
    SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_with_orders,
  COUNT(*) FILTER (WHERE NOT EXISTS (
    SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_without_orders
FROM customer
GROUP BY c_mktsegment
"""


# --- q4: correlated EXISTS → semi join + agg ----------------------------------


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): a date-windowed orders
    scan semi-joined against lineitems shipped after their order date.
    The correlated EXISTS becomes a left-semi hash join — the right side
    is never materialized into the output, the fact scan happens once.
    Adapted to this corpus: no l_commitdate/l_receiptdate, so the lateness
    predicate is ``l_shipdate > o_orderdate`` (a non-equi conjunct on the
    semi join)."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1995-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-01-01")))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


SQL_Q4 = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1996-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


# --- q6: selective-filter aggregate (pushdown showcase) ------------------------


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): four conjunctive predicates
    over one fact scan, one global aggregate. All four predicates reach
    the parquet reader as PushedFilters and the scan prunes to 3 columns
    — asserted in tests/test_relational (the plan-shape contract, not
    just the numbers)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1994-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1995-01-01")))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


SQL_Q6 = f"""
SELECT
  {dsum_sql('l_extendedprice * l_discount')} AS revenue,
  COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01'
  AND l_shipdate < TIMESTAMP '1995-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


# --- q13: outer join + two-level aggregate -------------------------------------


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): LEFT OUTER join with an extra
    join-side predicate (so zero-order customers survive with count 0),
    then an aggregate OF the aggregate — the histogram-of-group-sizes
    shape. Two shuffles by construction: one on the join/group key, one
    tiny one on the count."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


SQL_Q13 = """
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) GROUP BY c_count
"""


# --- top-k per group -----------------------------------------------------------


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        part.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("p_brand", "rank", "p_partkey", "p_retailprice")
    )


SQL_TOPK = """
SELECT p_brand, rank, p_partkey, p_retailprice FROM (
  SELECT p_brand, p_partkey, p_retailprice,
    ROW_NUMBER() OVER (
      PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rank
  FROM part
) WHERE rank <= 3
"""


# --- set operations ------------------------------------------------------------


def q_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT/UNION cardinalities in ONE pass: tag each key with
    membership flags, aggregate once. Semantically identical to chaining
    ``intersect``/``exceptAll``/``union`` on the distinct key sets (the
    native operators are property-tested equal in tests/test_relational),
    but 4 shuffling set-op jobs collapse into one groupBy — the plan you
    want at scale."""
    orders = _t(spark, sf_dir, "orders")
    membership = (
        orders.filter(F.col("o_orderstatus").isin("O", "F"))
        .groupBy("o_custkey")
        .agg(
            F.max((F.col("o_orderstatus") == "O").cast("int")).alias("has_o"),
            F.max((F.col("o_orderstatus") == "F").cast("int")).alias("has_f"),
        )
    )
    return membership.agg(
        F.sum((F.col("has_o") * F.col("has_f"))).cast("long").alias("n_both"),
        F.sum(F.col("has_o") * (1 - F.col("has_f"))).cast("long").alias("n_only_open"),
        F.sum(F.col("has_f") * (1 - F.col("has_o"))).cast("long").alias("n_only_f"),
        F.count("*").cast("long").alias("n_union"),
    )


def setops_via_native_operators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same four counts via Spark's native set operators — kept as the
    operator-coverage reference implementation and the equivalence test
    target for :func:`q_setops`."""
    orders = _t(spark, sf_dir, "orders")
    o_keys = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    f_keys = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    return spark.createDataFrame(
        [
            (
                o_keys.intersect(f_keys).count(),
                o_keys.exceptAll(f_keys).count(),
                f_keys.exceptAll(o_keys).count(),
                o_keys.union(f_keys).distinct().count(),
            )
        ],
        "n_both long, n_only_open long, n_only_f long, n_union long",
    )


SQL_SETOPS = """
WITH o_keys AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
     f_keys AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
SELECT
  (SELECT COUNT(*) FROM (SELECT * FROM o_keys INTERSECT SELECT * FROM f_keys)) AS n_both,
  (SELECT COUNT(*) FROM (SELECT * FROM o_keys EXCEPT SELECT * FROM f_keys)) AS n_only_open,
  (SELECT COUNT(*) FROM (SELECT * FROM f_keys EXCEPT SELECT * FROM o_keys)) AS n_only_f,
  (SELECT COUNT(*) FROM (SELECT * FROM o_keys UNION SELECT * FROM f_keys)) AS n_union
"""


# --- rollup ---------------------------------------------------------------------


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15: collapsing consumer — the rollup's partial agg collapses to
    # a handful of status x priority cells before the first exchange,
    # so the scan is read unfanned (measured 0.71 -> 0.59 s at sf0.1)
    from ..sources.files import ROWS_PER_TASK_COLLAPSING

    orders = read_input(spark, sf_dir, "orders", ROWS_PER_TASK_COLLAPSING)
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), dsum(F.col("o_totalprice")).alias("sum_total"))
    )


SQL_ROLLUP = f"""
SELECT o_orderstatus, o_orderpriority,
  COUNT(*) AS n, {dsum_sql('o_totalprice')} AS sum_total
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


# --- sessionization --------------------------------------------------------------

_GAP_NS = 30 * 60 * 1_000_000_000  # 30 min


def q_sessionize_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event and session counts, sessions cut at a 30-min gap.

    Skew-proof (r9: the skewed gate measured a single per-user window at
    α≈1.0 when one user holds ~30% of events). Session flags come from
    ``segmented.sessionize_flags`` — per-(user, week-bucket) local lag +
    per-user carry over the tiny bucket summary — then a partial-agg
    rollup. Integer ns flags make it bit-equal to the one-window
    per-user LAG of the DuckDB oracle (``SQL_SESSIONIZE``)."""
    from .segmented import sessionize_flags

    ev = _load_events(spark, sf_dir).select("user_id", "ts", "event_id")
    return (
        sessionize_flags(ev, _GAP_NS)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("new_session").alias("n_sessions"),
        )
    )


SQL_SESSIONIZE = f"""
SELECT user_id, COUNT(*) AS n_events, CAST(SUM(new_session) AS BIGINT) AS n_sessions
FROM (
  SELECT user_id,
    CAST(CASE WHEN prev_ns IS NULL OR epoch_ns(ts) - prev_ns > {_GAP_NS}
         THEN 1 ELSE 0 END AS BIGINT) AS new_session
  FROM (
    SELECT user_id, ts,
      LAG(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ns
    FROM events
  )
)
GROUP BY user_id
"""


# --- q18: large-volume orders (HAVING on an aggregate) -------------------------


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 large-volume orders: the HAVING-on-aggregate shape — aggregate
    lineitem once, filter on the aggregate, then enrich with order and
    customer. The aggregate-then-join order matters at scale: the
    having-filter shrinks the fact side before any dimension join."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey",
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias(
                "orderdate_ms"
            ),
            "o_totalprice", "total_qty",
        )
    )


SQL_Q18 = f"""
SELECT c_custkey, c_name, o_orderkey, epoch_ms(o_orderdate) AS orderdate_ms,
  o_totalprice, total_qty
FROM (
  SELECT l_orderkey, {dsum_sql('l_quantity')} AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {dsum_sql('l_quantity')} > 150
) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# --- semi-structured: schema'd JSON extraction -----------------------------------


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.props is a JSON string column; parse it ONCE with a declared
    schema (``from_json`` — a codegen'd parser producing a struct, so the
    extraction stays JVM-side and column-pruned) and aggregate the typed
    field. The anti-pattern at 100 TB is N ``get_json_object`` calls
    re-parsing the string N times per row."""
    ev = _load_events(spark, sf_dir)
    parsed = ev.withColumn("p", F.from_json("props", "k BIGINT"))
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("p.k").alias("sum_k"),
        F.min("p.k").alias("min_k"),
        F.max("p.k").alias("max_k"),
        F.sum(F.when(F.col("p.k") > 50, 1).otherwise(0)).cast("long").alias("n_high"),
    )


SQL_JSON_PROPS = """
SELECT event_type, COUNT(*) AS n,
  CAST(SUM(k) AS BIGINT) AS sum_k,
  MIN(k) AS min_k, MAX(k) AS max_k,
  CAST(SUM(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM (SELECT event_type, CAST(props->>'k' AS BIGINT) AS k FROM events)
GROUP BY event_type
"""


# --- time-series gap fill (resample to a dense hourly grid) ----------------------


def q_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly resample: build the full (hour × event_type) grid with
    ``sequence``+``explode`` off a 1-row min/max aggregate, left-join the
    observed hourly counts, zero-fill the gaps. The grid side is tiny
    (hours × types, not events), the join is an equi-join on the grid key
    — the standard gap-filling shape time-series stores special-case,
    expressed as two shuffles at any scale."""
    ev = _load_events(spark, sf_dir)
    hour_ms = F.expr("(ts div 1000000) div 3600000 * 3600000")
    hourly = (
        ev.withColumn("hour_ms", hour_ms)
        .groupBy("hour_ms", "event_type")
        .agg(F.count("*").alias("n_obs"))
    )
    bounds = ev.agg(
        F.min(hour_ms).alias("h_min"), F.max(hour_ms).alias("h_max")
    )
    hours = bounds.select(
        F.explode(
            F.sequence("h_min", "h_max", F.lit(3_600_000).cast("long"))
        ).alias("hour_ms")
    )
    types = ev.select("event_type").distinct()
    grid = hours.crossJoin(types)  # dense axis: |hours| × |types|, tiny
    return grid.join(hourly, ["hour_ms", "event_type"], "left").select(
        "hour_ms",
        "event_type",
        F.coalesce("n_obs", F.lit(0).cast("long")).alias("n"),
    )


SQL_GAPFILL_HOURLY = """
WITH hourly AS (
  SELECT (epoch_ns(ts) // 1000000) // 3600000 * 3600000 AS hour_ms,
    event_type, COUNT(*) AS n_obs
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT MIN((epoch_ns(ts) // 1000000) // 3600000 * 3600000) AS h_min,
    MAX((epoch_ns(ts) // 1000000) // 3600000 * 3600000) AS h_max
  FROM events
),
hours AS (
  SELECT unnest(range(h_min, h_max + 1, 3600000)) AS hour_ms FROM bounds
),
grid AS (
  SELECT h.hour_ms, t.event_type
  FROM hours h, (SELECT DISTINCT event_type FROM events) t
)
SELECT g.hour_ms, g.event_type,
  CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n
FROM grid g LEFT JOIN hourly o
  ON g.hour_ms = o.hour_ms AND g.event_type = o.event_type
"""


def register_all() -> None:
    register("rel_tpch_q1", q_tpch_q1, SQL_Q1)
    register("rel_tpch_q3_topk", q_tpch_q3, SQL_Q3)
    register("rel_tpch_q5_star", q_tpch_q5, SQL_Q5)
    register("rel_tpch_q7_volume", q_tpch_q7, SQL_Q7)
    register("rel_tpch_q9_profit", q_tpch_q9, SQL_Q9)
    register("rel_tpch_q4_exists", q_tpch_q4, SQL_Q4)
    register("rel_tpch_q6_pushdown", q_tpch_q6, SQL_Q6)
    register("rel_tpch_q13_histogram", q_tpch_q13, SQL_Q13)
    register("rel_semi_anti", q_semi_anti, SQL_SEMI_ANTI)
    register("rel_topk_per_group", q_topk_per_group, SQL_TOPK)
    register("rel_setops", q_setops, SQL_SETOPS)
    # segmented (r9 skewed gate: a one-window form serializes a hot
    # user); the sequential DuckDB oracle gates its bit-equality
    register("rel_sessionize", q_sessionize_segmented, SQL_SESSIONIZE)
    # pytest-verified tier (driver report caps at 50 rows): ROLLUP is the
    # special case of rel_grouping_sets; the hourly time-bucket agg is
    # covered by events_rollup_cascade's cascading time grains
    register("rel_rollup", q_rollup, SQL_ROLLUP)
    register("rel_json_props", q_json_props, SQL_JSON_PROPS)
    register("rel_gapfill_hourly", q_gapfill_hourly, SQL_GAPFILL_HOURLY)
    register("rel_tpch_q18_having", q_tpch_q18, SQL_Q18)
