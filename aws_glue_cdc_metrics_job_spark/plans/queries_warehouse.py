"""Graded queries completing the classic warehouse (TPC-H-shape) surface:
the join/subquery patterns every analytics engine must run that the earlier
catalog rounds had not yet covered as first-class graded entries --
EXISTS/NOT-EXISTS semi/anti joins (Q4/Q21/Q22 shapes), scalar-subquery
thresholds against global aggregates (Q11/Q15/Q22), ratio-of-conditional-
aggregate reports (Q8/Q12/Q14), left-join count distributions (Q13),
distinct-count diversity after NOT-IN exclusion (Q16), disjunctive
multi-range join predicates (Q19), per-group argmin over joined dims (Q2),
and majority-share semi joins (Q20). The testdata schema is TPC-H-ish
without partsupp, so the partsupp-based queries are re-anchored on
lineitem as the part<->supplier relation (noted per query).

Scale notes (SCALE.md posture): every scalar subquery is decorrelated into
a grouped aggregate that broadcasts back (never a driver collect); the one
fact-fact shuffle (lineitem x orders) is the bucketed-recipe pair; all
EXISTS/NOT-EXISTS become semi/anti hash joins or per-key aggregates;
shares/ratios live on exact integer-cent lattices so oracle hashes are
partitioning-independent.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum, rhu, sql_dsum, sql_rhu
from ..sources import read_table
from .catalog import query

# Exact net-revenue cents: identical IEEE expression in both engines.
_NET_CENTS = "CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)"


def _net_cents() -> F.Column:
    return F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5).cast(
        "long"
    )


# --- TPC-H Q4 shape: EXISTS semi join with a non-equi residual


@query(
    "orders_late_ship_priority",
    oracle="""
SELECT o.o_orderpriority AS PRIORITY, CAST(COUNT(*) AS BIGINT) AS N_ORDERS
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY 1
""",
)
def q_orders_late_ship_priority(spark: SparkSession, sf_dir: str):
    """Order-priority check (TPC-H Q4 shape): orders in one quarter having
    at least one line shipped >60 days after order date. The EXISTS is a
    LEFT SEMI hash join on the order key with the date residual evaluated
    inside the join; the quarter filter pushes to the orders scan so the
    semi join probes ~4% of orders. One low-cardinality agg after."""
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy(F.col("o_orderpriority").alias("PRIORITY")).agg(
        F.count(F.lit(1)).cast("long").alias("N_ORDERS")
    )


# --- TPC-H Q6 shape: tight-range scan-only forecast aggregate


@query(
    "forecast_revenue_change",
    oracle=f"""
SELECT COALESCE({sql_dsum("l_extendedprice * l_discount", 4)}, 0.0) AS REVENUE_DELTA,
       CAST(COUNT(*) AS BIGINT) AS N_LINES
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24.0
""",
)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str):
    """Revenue-increase forecast (TPC-H Q6 shape): the pure scan-stage
    query -- every predicate (date range, discount band, quantity cap)
    pushes into the parquet scan, no join, one global agg. The canonical
    'is the filter actually reaching the scan' benchmark; discount
    comparisons are on the identical stored doubles in both engines."""
    li = read_table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24.0)
    )
    return f.agg(
        F.coalesce(dsum(F.col("l_extendedprice") * F.col("l_discount"), 4), F.lit(0.0)).alias(
            "REVENUE_DELTA"
        ),
        F.count(F.lit(1)).cast("long").alias("N_LINES"),
    )


# --- TPC-H Q8 shape: market share = ratio of conditional aggregates


@query(
    "nation_market_share",
    oracle=f"""
WITH rev AS (
  SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS YR,
         sn.n_name AS supp_nation,
         {_NET_CENTS} AS cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
  JOIN region r ON cn.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  WHERE r.r_name = 'AMERICA'
)
SELECT YR,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END) AS BIGINT)
         AS FOCUS_CENTS,
       CAST(SUM(cents) AS BIGINT) AS TOTAL_CENTS,
       {sql_rhu(
           "CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END) AS DOUBLE)"
           " / CAST(SUM(cents) AS DOUBLE)", 6)} AS MKT_SHARE
FROM rev GROUP BY YR
""",
)
def q_nation_market_share(spark: SparkSession, sf_dir: str):
    """National market share (TPC-H Q8 shape): one focus nation's slice of
    the revenue sold into one region's customers, per year. Numerator and
    denominator are conditional sums over ONE pass of the joined fact
    stream (no second scan for the total); the share divides two exact
    cent integers as doubles, identical in both engines. All dimension
    sides broadcast; lineitem x orders is the lone shuffle."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust_dim = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == r["r_regionkey"])
        .select("c_custkey")
    )
    supp_dim = (
        s.join(
            F.broadcast(n.select(F.col("n_nationkey").alias("__snk"), F.col("n_name"))),
            F.col("s_nationkey") == F.col("__snk"),
        ).select("s_suppkey", F.col("n_name").alias("__supp_nation"))
    )
    cents = _net_cents()
    focus = F.when(F.col("__supp_nation") == "NATION_3", F.col("__cents")).otherwise(F.lit(0))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(cust_dim), F.col("o_custkey") == cust_dim["c_custkey"], "inner")
        .join(F.broadcast(supp_dim), li["l_suppkey"] == supp_dim["s_suppkey"])
        .select(
            F.year("o_orderdate").cast("int").alias("YR"),
            "__supp_nation",
            cents.alias("__cents"),
        )
        .groupBy("YR")
        .agg(
            F.sum(focus).cast("long").alias("FOCUS_CENTS"),
            F.sum("__cents").cast("long").alias("TOTAL_CENTS"),
        )
        .select(
            "YR",
            "FOCUS_CENTS",
            "TOTAL_CENTS",
            rhu(
                F.col("FOCUS_CENTS").cast("double") / F.col("TOTAL_CENTS").cast("double"), 6
            ).alias("MKT_SHARE"),
        )
    )


# --- TPC-H Q11 shape: groups exceeding a fraction of the global total


@query(
    "part_value_concentration",
    oracle=f"""
WITH pv AS (
  SELECT l_partkey, CAST(SUM({_NET_CENTS}) AS BIGINT) AS VALUE_CENTS
  FROM lineitem GROUP BY 1
),
tot AS (SELECT SUM(VALUE_CENTS) AS t, COUNT(*) AS n FROM pv)
SELECT pv.l_partkey AS PART_ID, pv.VALUE_CENTS
FROM pv, tot
WHERE pv.VALUE_CENTS * tot.n * 2 > 3 * tot.t
ORDER BY pv.VALUE_CENTS DESC, PART_ID
""",
)
def q_part_value_concentration(spark: SparkSession, sf_dir: str):
    """Inventory-value concentration (TPC-H Q11 shape): parts holding more
    than 1.5x the mean per-part traded value. TPC-H's fixed global
    fraction shrinks per-part share as the catalog widens (0 rows past
    sf0.001), so the threshold is re-anchored scale-invariantly on the
    mean. The global total/count is a decorrelated scalar aggregate
    broadcast back over the per-part rollup (one-row cross join, never a
    driver collect); the threshold compare is pure integer math, so no
    epsilon games. lineitem is scanned once; partsupp (absent from the
    schema) is re-anchored on lineitem as the part-value relation."""
    li = read_table(spark, sf_dir, "lineitem")
    pv = li.groupBy(F.col("l_partkey").alias("PART_ID")).agg(
        F.sum(_net_cents()).cast("long").alias("VALUE_CENTS")
    )
    tot = pv.agg(F.sum("VALUE_CENTS").alias("__t"), F.count(F.lit(1)).alias("__n"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("VALUE_CENTS") * F.col("__n") * 2 > 3 * F.col("__t"))
        .select("PART_ID", "VALUE_CENTS")
        .orderBy(F.col("VALUE_CENTS").desc(), "PART_ID")
    )


# --- TPC-H Q12 shape: conditional priority counts after a fact join


@query(
    "returns_priority_profile",
    oracle="""
SELECT l.l_returnflag AS RETURNFLAG,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS HIGH_LINES,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS LOW_LINES
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
GROUP BY 1
""",
)
def q_returns_priority_profile(spark: SparkSession, sf_dir: str):
    """Shipping-priority profile (TPC-H Q12 shape): per return flag, how
    many lines shipped this year belonged to high- vs low-priority
    orders. The two branches are conditional sums in ONE aggregation over
    one join pass (the reference's two-scan trailing-compare anti-pattern
    inverted); the ship-year filter pushes to the lineitem scan."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.col("l_returnflag").alias("RETURNFLAG"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("HIGH_LINES"),
            F.sum(F.when(hi, 0).otherwise(1)).cast("long").alias("LOW_LINES"),
        )
    )


# --- TPC-H Q13 shape: left-join count distribution (zeros included)


@query(
    "customer_order_distribution",
    oracle="""
WITH co AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
  FROM customer c
  LEFT JOIN orders o
    ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY 1
)
SELECT CAST(n_orders AS BIGINT) AS N_ORDERS,
       CAST(COUNT(*) AS BIGINT) AS N_CUSTOMERS
FROM co GROUP BY 1
""",
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str):
    """Customer order-count distribution (TPC-H Q13 shape): how many
    customers placed 0, 1, 2, ... qualifying orders -- the left join that
    must keep zero-order customers, with the priority predicate INSIDE
    the join condition (not a post-filter, which would drop the zeros).
    Two aggregations: per-customer count, then the histogram (both
    low-cardinality hash aggs)."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
        .select("o_custkey", "o_orderkey")
    )
    co = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("N_ORDERS"))
    )
    return co.groupBy(F.col("N_ORDERS").cast("long").alias("N_ORDERS")).agg(
        F.count(F.lit(1)).cast("long").alias("N_CUSTOMERS")
    )


# --- TPC-H Q14 shape: promo revenue share per month


@query(
    "promo_revenue_share",
    oracle=f"""
WITH t AS (
  SELECT CAST(date_trunc('month', l.l_shipdate) AS DATE) AS MONTH,
         CASE WHEN p.p_type = 'PROMO' THEN {_NET_CENTS} ELSE 0 END AS promo_cents,
         {_NET_CENTS} AS cents
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
    AND l.l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
)
SELECT MONTH,
       CAST(SUM(promo_cents) AS BIGINT) AS PROMO_CENTS,
       CAST(SUM(cents) AS BIGINT) AS TOTAL_CENTS,
       {sql_rhu("CAST(SUM(promo_cents) AS DOUBLE) / CAST(SUM(cents) AS DOUBLE)", 6)}
         AS PROMO_SHARE
FROM t GROUP BY 1
""",
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str):
    """Promotion revenue share (TPC-H Q14 shape): the fraction of monthly
    revenue from promo-class parts. The part dimension broadcasts into
    the filtered fact scan; numerator is a conditional sum in the same
    single aggregation as the total (no second pass); the share divides
    exact cent integers."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    cents = _net_cents()
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select(
            F.date_trunc("month", F.col("l_shipdate")).cast("date").alias("MONTH"),
            F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0)).alias("__promo"),
            cents.alias("__cents"),
        )
        .groupBy("MONTH")
        .agg(
            F.sum("__promo").cast("long").alias("PROMO_CENTS"),
            F.sum("__cents").cast("long").alias("TOTAL_CENTS"),
        )
        .select(
            "MONTH",
            "PROMO_CENTS",
            "TOTAL_CENTS",
            rhu(
                F.col("PROMO_CENTS").cast("double") / F.col("TOTAL_CENTS").cast("double"), 6
            ).alias("PROMO_SHARE"),
        )
    )


# --- TPC-H Q15 shape: rows equal to the max of an aggregate


@query(
    "top_supplier_revenue",
    oracle=f"""
WITH sr AS (
  SELECT l_suppkey, CAST(SUM({_NET_CENTS}) AS BIGINT) AS REV_CENTS
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-04-01 00:00:00'
  GROUP BY 1
)
SELECT s.s_suppkey AS SUPP_ID, s.s_name AS SUPP_NAME, sr.REV_CENTS
FROM sr JOIN supplier s ON s.s_suppkey = sr.l_suppkey
WHERE sr.REV_CENTS = (SELECT MAX(REV_CENTS) FROM sr)
ORDER BY SUPP_ID
""",
)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str):
    """Top supplier by quarterly revenue (TPC-H Q15 shape): the max-of-
    aggregate scalar subquery, decorrelated to a one-row broadcast joined
    back on exact integer cents (doubles here would make 'equals the max'
    engine-dependent; integers make it exact, ties-safe). The supplier
    name join broadcasts the dim side."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01 00:00:00").cast("timestamp"))
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    sr = li.groupBy("l_suppkey").agg(F.sum(_net_cents()).cast("long").alias("REV_CENTS"))
    mx = sr.agg(F.max("REV_CENTS").alias("__m"))
    return (
        sr.crossJoin(F.broadcast(mx))
        .filter(F.col("REV_CENTS") == F.col("__m"))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select(
            F.col("s_suppkey").alias("SUPP_ID"),
            F.col("s_name").alias("SUPP_NAME"),
            "REV_CENTS",
        )
        .orderBy("SUPP_ID")
    )


# --- TPC-H Q16 shape: supplier diversity with NOT-IN exclusion


@query(
    "parts_supplier_diversity",
    oracle="""
SELECT p.p_brand AS BRAND, CAST(p.p_size AS INT) AS SIZE,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS N_SUPPLIERS
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 49)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY 1, 2
""",
)
def q_parts_supplier_diversity(spark: SparkSession, sf_dir: str):
    """Supplier diversity per part class (TPC-H Q16 shape): distinct
    suppliers serving each qualifying (brand, size), excluding suppliers
    on the complaint list (here: negative balance). The NOT IN becomes a
    broadcast LEFT ANTI join (the excluded set is tiny and has no NULL
    keys, so anti-join semantics match NOT IN exactly); part predicates
    prune before the fact join; one distinct-count aggregation."""
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 49))
    )
    bad = (
        read_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_brand").alias("BRAND"), F.col("p_size").cast("int").alias("SIZE"))
        .agg(F.countDistinct("l_suppkey").cast("long").alias("N_SUPPLIERS"))
    )


# --- TPC-H Q19 shape: disjunctive multi-range join predicate


@query(
    "disjunctive_basket_revenue",
    oracle=f"""
SELECT COALESCE(CAST(SUM({_NET_CENTS}) AS BIGINT), 0) AS REV_CENTS,
       CAST(COUNT(*) AS BIGINT) AS N_LINES
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity >= 1.0 AND l.l_quantity <= 11.0)
   OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity >= 10.0 AND l.l_quantity <= 20.0)
   OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 20.0 AND l.l_quantity <= 30.0)
""",
)
def q_disjunctive_basket_revenue(spark: SparkSession, sf_dir: str):
    """Discounted-revenue for three brand/size/quantity baskets (TPC-H Q19
    shape): the disjunctive predicate spanning both join sides. Catalyst
    keeps the equi-key (partkey) as the hash-join key and evaluates the
    OR-of-conjunctions as the join residual; the brand/size disjunction's
    common supersets push to the part scan. One broadcast join, one
    global agg."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1.0, 11.0)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10.0, 20.0)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20.0, 30.0)
        )
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            F.coalesce(F.sum(_net_cents()).cast("long"), F.lit(0).cast("long")).alias(
                "REV_CENTS"
            ),
            F.count(F.lit(1)).cast("long").alias("N_LINES"),
        )
    )


# --- TPC-H Q20 shape: majority-share (dominant) supplier semi join


@query(
    "dominant_part_suppliers",
    oracle="""
WITH ps AS (
  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS q
  FROM lineitem GROUP BY 1, 2
),
pt AS (SELECT l_partkey, SUM(q) AS tq FROM ps GROUP BY 1)
SELECT s.s_suppkey AS SUPP_ID, s.s_name AS SUPP_NAME,
       CAST(COUNT(*) AS BIGINT) AS N_DOMINANT_PARTS
FROM ps
JOIN pt ON pt.l_partkey = ps.l_partkey
JOIN supplier s ON s.s_suppkey = ps.l_suppkey
WHERE ps.q * 10 > pt.tq
GROUP BY 1, 2
""",
)
def q_dominant_part_suppliers(spark: SparkSession, sf_dir: str):
    """Dominant suppliers (TPC-H Q20 shape re-anchored on lineitem): for
    how many parts does each supplier ship MORE than 10% of the part's
    total quantity -- the per-group share threshold ('excess of availqty')
    decorrelated into two stacked rollups on the SAME partkey
    partitioning (the second groupBy reuses the first's shuffle; no
    re-partition). Quantities are integral, so the majority test is pure
    integer math. Supplier names broadcast."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", F.col("l_quantity").cast("long").alias("__q")
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(F.sum("__q").alias("__psq"))
    pt = ps.groupBy("l_partkey").agg(F.sum("__psq").alias("__tq"))
    return (
        ps.join(pt, "l_partkey")
        .filter(F.col("__psq") * 10 > F.col("__tq"))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .groupBy(F.col("s_suppkey").alias("SUPP_ID"), F.col("s_name").alias("SUPP_NAME"))
        .agg(F.count(F.lit(1)).cast("long").alias("N_DOMINANT_PARTS"))
    )


# --- TPC-H Q21 shape: EXISTS + NOT EXISTS over the same fact


@query(
    "sole_return_suppliers",
    oracle="""
WITH r AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'
)
SELECT s.s_suppkey AS SUPP_ID, s.s_name AS SUPP_NAME,
       CAST(COUNT(*) AS BIGINT) AS N_ORDERS
FROM r
JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = r.l_orderkey AND l2.l_suppkey <> r.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = r.l_orderkey AND l3.l_suppkey <> r.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY 1, 2
ORDER BY N_ORDERS DESC, SUPP_ID
LIMIT 20
""",
)
def q_sole_return_suppliers(spark: SparkSession, sf_dir: str):
    """Suppliers solely responsible for returns in multi-supplier orders
    (TPC-H Q21 shape): the EXISTS ('another supplier participated') and
    NOT EXISTS ('no OTHER supplier had a return') pair. Instead of two
    correlated self-joins, ONE per-order rollup computes distinct
    supplier count and distinct returning-supplier count; the pair
    (ns >= 2, nr = 1) is exactly the EXISTS/NOT-EXISTS conjunction for a
    returning supplier -- the oracle keeps the textbook correlated form
    to pin the equivalence. Top-20 is TakeOrderedAndProject with a
    unique-key tiebreak."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_returnflag")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    stats = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("__ns"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("__nr"),
    )
    r = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey").distinct()
    return (
        r.join(
            stats.filter((F.col("__ns") >= 2) & (F.col("__nr") == 1)).select("l_orderkey"),
            "l_orderkey",
        )
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .groupBy(F.col("s_suppkey").alias("SUPP_ID"), F.col("s_name").alias("SUPP_NAME"))
        .agg(F.count(F.lit(1)).cast("long").alias("N_ORDERS"))
        .orderBy(F.col("N_ORDERS").desc(), "SUPP_ID")
        .limit(20)
    )


# --- TPC-H Q22 shape: above-average balance + NOT EXISTS recent orders


@query(
    "idle_rich_customers",
    oracle=f"""
WITH avgbal AS (
  SELECT {sql_dsum("c_acctbal", 2)} / COUNT(*) AS a
  FROM customer WHERE c_acctbal > 0.0
)
SELECT n.n_name AS NATION,
       CAST(COUNT(*) AS BIGINT) AS N_CUSTOMERS,
       CAST(SUM(CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS BAL_CENTS
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey, avgbal
WHERE c.c_acctbal > avgbal.a
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  )
GROUP BY 1
""",
)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str):
    """Dormant high-balance customers per nation (TPC-H Q22 shape): the
    global positive-balance average is a decorrelated one-row broadcast;
    'no recent orders' is a LEFT ANTI join against the date-filtered
    orders scan (filter pushed down BEFORE the anti join, so the probe
    side is the small recent slice); balances aggregate on the exact
    cent lattice. Nation dim broadcasts."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    recent = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    avgbal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg((dsum("c_acctbal", 2) / F.count(F.lit(1))).alias("__a"))
    )
    return (
        c.crossJoin(F.broadcast(avgbal))
        .filter(F.col("c_acctbal") > F.col("__a"))
        .join(recent, c["c_custkey"] == recent["o_custkey"], "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("NATION"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("N_CUSTOMERS"),
            F.sum(F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("BAL_CENTS"),
        )
    )


# --- TPC-H Q2 shape: per-group argmin over joined dimensions


@query(
    "cheapest_supplier_per_part",
    oracle="""
WITH psu AS (
  SELECT l.l_partkey, l.l_suppkey,
         SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT))
           AS cents,
         SUM(CAST(l.l_quantity AS BIGINT)) AS qty
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'EUROPE'
  GROUP BY 1, 2
),
pr AS (
  -- CAST: cents comes from SUM() (HUGEINT in DuckDB), and HUGEINT '//'
  -- renders as float64 through the pandas/Arrow fetch path the driver
  -- hashes (a value mismatch invisible in SQL; caught locally by
  -- oracle_check's dual-fetch divergence guard)
  SELECT l_partkey, l_suppkey, CAST(cents * 10 // qty AS BIGINT) AS UNIT_MILLI FROM psu
),
best AS (SELECT l_partkey, MIN(UNIT_MILLI) AS m FROM pr GROUP BY 1)
SELECT p.p_partkey AS PART_ID, p.p_name AS PART_NAME,
       CAST(MIN(pr.l_suppkey) AS BIGINT) AS SUPP_ID,
       best.m AS UNIT_MILLI
FROM pr
JOIN best ON best.l_partkey = pr.l_partkey AND pr.UNIT_MILLI = best.m
JOIN part p ON p.p_partkey = pr.l_partkey
WHERE p.p_type = 'STANDARD' AND p.p_size <= 10
GROUP BY 1, 2, 4
""",
)
def q_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str):
    """Cheapest regional supplier per part (TPC-H Q2 shape): the
    correlated MIN subquery ('supplier with the minimum cost for this
    part') decorrelated into a per-part min joined back, with the
    region restriction applied to suppliers via broadcast dims BEFORE
    the rollup. Unit price is exact integer milli-units (cents x 10 div
    integral quantity), so the argmin has no float ties; equal-price
    ties resolve to the smallest supplier key in both engines."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_supp = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == r["r_regionkey"])
        .select("s_suppkey")
    )
    psu = (
        li.join(F.broadcast(eu_supp), li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(_net_cents()).alias("__cents"),
            F.sum(F.col("l_quantity").cast("long")).alias("__qty"),
        )
        .select(
            "l_partkey",
            "l_suppkey",
            F.expr("__cents * 10 div __qty").alias("UNIT_MILLI"),
        )
    )
    best = psu.groupBy(F.col("l_partkey").alias("__bpk")).agg(
        F.min("UNIT_MILLI").alias("__m")
    )
    return (
        psu.join(
            best,
            (psu["l_partkey"] == F.col("__bpk")) & (psu["UNIT_MILLI"] == F.col("__m")),
        )
        .join(F.broadcast(p), psu["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.col("p_partkey").alias("PART_ID"),
            F.col("p_name").alias("PART_NAME"),
            F.col("UNIT_MILLI"),
        )
        .agg(F.min("l_suppkey").cast("long").alias("SUPP_ID"))
        .select("PART_ID", "PART_NAME", "SUPP_ID", "UNIT_MILLI")
    )


# --- TPC-H Q9 shape: multi-dim star join + derived profit measure


@query(
    "nation_part_profit",
    oracle=f"""
SELECT n_name AS NATION,
       CAST(year(o_orderdate) AS INTEGER) AS O_YEAR,
       CAST(SUM({_NET_CENTS}
                - CAST(FLOOR(p_retailprice * l_quantity * 0.6 * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS PROFIT_CENTS
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%al%'
GROUP BY 1, 2
ORDER BY NATION, O_YEAR
""",
)
def q_nation_part_profit(spark: SparkSession, sf_dir: str):
    """Product-type profit by nation and year (TPC-H Q9 shape): lineitem
    fans out through part (name-pattern filter), supplier -> nation, and
    orders (for the year), with profit = net revenue minus a supply-cost
    model -- partsupp is absent from the testdata schema, so cost is
    re-anchored as 60% of p_retailprice per unit on the SAME exact
    cents lattice as revenue (FLOOR half-up, identical IEEE expression
    both engines; the BIGINT cents sum is partitioning-independent).
    Completes the 22-pattern TPC-H shape coverage (Q1-Q22).

    Plan shape: part/supplier/nation broadcast (dim-sized); the one
    fact-fact shuffle is lineitem x orders on the order key -- the
    bucketed-recipe pair (SCALE.md); the name filter reaches the part
    scan so the fan-out is pre-pruned."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_name").like("%al%"))
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    orders = read_table(spark, sf_dir, "orders")
    cost_cents = F.floor(
        F.col("p_retailprice") * F.col("l_quantity") * 0.6 * 100 + 0.5
    ).cast("long")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("NATION"),
            F.year("o_orderdate").cast("int").alias("O_YEAR"),
        )
        .agg(F.sum(_net_cents() - cost_cents).cast("long").alias("PROFIT_CENTS"))
        .orderBy("NATION", "O_YEAR")
    )


# --- the bucketed co-location recipe, made observable:
# the same orders x lineitem revenue rollup as a shuffled plan and as a
# zero-Exchange bucketed plan, value-identical, both oracle-checked against
# the identical SQL. SCALE.md's 100 TB story: bucket both fact tables on the
# order key once at ingest, and every subsequent join/agg on that key is
# bucket-local.

_BKT_ORACLE = """
SELECT l.l_orderkey AS ORDER_KEY, o.o_orderstatus AS STATUS,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS NET_REVENUE
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY 1, 2
HAVING SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) > 400000
"""


def _bkt_inputs(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ORDER_KEY"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,4)")
        .alias("__net"),
    )
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ORDER_KEY"),
        F.col("o_orderstatus").alias("STATUS"),
    )
    return li, orders


def _bkt_finish(joined):
    return (
        joined.groupBy("ORDER_KEY", "STATUS")
        .agg(F.sum("__net").alias("__rev"))
        .filter(F.col("__rev") > 400000)
        .select(
            "ORDER_KEY", "STATUS", F.col("__rev").cast("double").alias("NET_REVENUE")
        )
    )


@query("orders_lineitem_revenue_shuffled", oracle=_BKT_ORACLE)
def q_orders_lineitem_revenue_shuffled(spark: SparkSession, sf_dir: str):
    """The plain-parquet twin of the bucketed recipe: orders x lineitem
    revenue per order, sort-merge joined (merge hint, so both twins run
    the same join algorithm and differ ONLY in layout) -- two fact
    shuffles for the join plus the agg satisfied by the join's
    partitioning. The decimal net-revenue lattice makes the aggregate
    addition-order-independent, so both twins and the oracle agree
    bit-for-bit."""
    li, orders = _bkt_inputs(spark, sf_dir)
    return _bkt_finish(li.hint("merge").join(orders, "ORDER_KEY"))


@query("orders_lineitem_revenue_bucketed", oracle=_BKT_ORACLE)
def q_orders_lineitem_revenue_bucketed(spark: SparkSession, sf_dir: str):
    """The ZERO-EXCHANGE plan: both fact tables are first written
    hash-bucketed (+ sorted) on ORDER_KEY with the same bucket count
    (sources.write_bucketed -- the one-time ingest cost the recipe
    amortizes), then the identical join + per-order aggregation runs
    bucket-local: each task reads matching bucket files from both sides;
    the agg on (ORDER_KEY, STATUS) is satisfied by the bucket
    partitioning on its prefix. `Exchange` does not appear in the
    executed plan (pinned in tests/test_warehouse.py). The graded
    instance honestly pays the bucketing write inside the query; a real
    deployment pays it once at ingest and every downstream order-key
    join/agg rides free -- at 100 TB this is the single largest shuffle
    the reference workload can eliminate."""
    import hashlib
    import os
    import tempfile

    from ..sources.parquet_io import write_bucketed

    li, orders = _bkt_inputs(spark, sf_dir)
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"bkt_recipe_{h}")
    write_bucketed(
        li, f"bkt_li_{h}", ["ORDER_KEY"], 8,
        sort_cols=["ORDER_KEY"], path=os.path.join(root, "lineitem"),
    )
    write_bucketed(
        orders, f"bkt_ord_{h}", ["ORDER_KEY"], 8,
        sort_cols=["ORDER_KEY"], path=os.path.join(root, "orders"),
    )
    joined = spark.table(f"bkt_li_{h}").hint("merge").join(
        spark.table(f"bkt_ord_{h}"), "ORDER_KEY"
    )
    return _bkt_finish(joined)


# --- Z-order (Morton) clustering keys -- the multi-dimensional
# layout primitive. The oracle re-emits the IDENTICAL integer expression
# with DuckDB's // division, bounds riding the same 1-row cross join.


def _zorder_oracle() -> str:
    from ..functions.zorder import zorder_sql

    expr = zorder_sql(
        ["l_partkey", "l_suppkey"], [("b.lo0", "b.hi0"), ("b.lo1", "b.hi1")],
        bits=8, div="//",
    )
    return f"""
WITH b AS (
  SELECT CAST(MIN(l_partkey) AS BIGINT) AS lo0, CAST(MAX(l_partkey) AS BIGINT) AS hi0,
         CAST(MIN(l_suppkey) AS BIGINT) AS lo1, CAST(MAX(l_suppkey) AS BIGINT) AS hi1
  FROM lineitem
),
k AS (SELECT {expr} AS ZKEY, l_partkey, l_suppkey FROM lineitem, b)
SELECT CAST(ZKEY // 4096 AS BIGINT) AS ZBUCKET,
       CAST(COUNT(*) AS BIGINT) AS N_ROWS,
       CAST(MIN(l_partkey) AS BIGINT) AS PART_LO,
       CAST(MAX(l_partkey) AS BIGINT) AS PART_HI,
       CAST(MIN(l_suppkey) AS BIGINT) AS SUPP_LO,
       CAST(MAX(l_suppkey) AS BIGINT) AS SUPP_HI
FROM k GROUP BY 1
"""


@query("lineitem_zorder_buckets", oracle=_zorder_oracle())
def q_lineitem_zorder_buckets(spark: SparkSession, sf_dir: str):
    """Z-order clustering profile (functions/zorder): every lineitem row
    gets a Morton key interleaving 8 normalized bits of l_partkey with 8
    of l_suppkey (bounds ride a 1-row broadcast aggregate, never the
    driver), then the key space is cut into 16 contiguous buckets -- the
    file layout write_zordered produces -- and each bucket reports its
    min/max RECTANGLE in both dimensions. The rectangles are the whole
    point: a contiguous Z range is bounded in EVERY interleaved dimension
    (a linear sort is bounded in one), which is what lets parquet min/max
    stats prune reads for filters on either column. The key expression is
    a static integer sum inside whole-stage codegen; the oracle re-emits
    the identical expression, so every row's key and every rectangle
    value-hash across engines."""
    from ..functions.zorder import add_zorder_key

    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    keyed = add_zorder_key(li, ["l_partkey", "l_suppkey"], bits=8)
    return keyed.groupBy(
        F.expr("ZKEY div 4096").cast("bigint").alias("ZBUCKET")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("N_ROWS"),
        F.min("l_partkey").cast("bigint").alias("PART_LO"),
        F.max("l_partkey").cast("bigint").alias("PART_HI"),
        F.min("l_suppkey").cast("bigint").alias("SUPP_LO"),
        F.max("l_suppkey").cast("bigint").alias("SUPP_HI"),
    )
