"""Adapters mapping the driver's TPC-H-ish testdata (TESTDATA.md) onto the
reference's business schema (FIXTURES.md §B), in two mirrored dialects:

- Spark DataFrame builders (used by the engine's graded queries);
- DuckDB CTE fragments (used by the oracle SQL), kept textually adjacent so
  the two stay in lock-step. Column names/types/rounding must match exactly:
  the driver hashes values after sorting columns by name.

Mapping:
  order_items        <- lineitem x orders x customer x part
                        (ORDER_ID=o_orderkey, LINEITEM_ID=l_linenumber,
                         USER_ID=o_custkey, RESTAURANT_ID=l_suppkey,
                         APP_NAME=o_orderpriority, ITEM_CATEGORY=p_type,
                         IS_LOYALTY=(c_mktsegment='AUTOMOBILE'),
                         ITEM_PRICE=l_extendedprice,
                         CREATION_TIME_UTC=l_shipdate)
  order_item_options <- lineitem discount/tax components as 0-2 option rows
                        per line item (discount negative, the reference's
                        discount signal: OPTION_PRICE < 0,
                        scripts/cdc_metrics_job.py:547)
  order_revenue      <- items ⟕ per-line option sum, TOTAL_REVENUE =
                        ITEM_PRICE + OPTION_PRICE (:182-184), made
                        deterministic by summing options per line instead of
                        the reference's arbitrary-row dedup (:163).

Join strategy at scale: customer/part are dimension-sized relative to
lineitem; AQE converts them to broadcast joins automatically at test scale,
and on a real cluster they'd be broadcast or bucketed. No manual hints needed
-- verified via explain() in tests/test_plans.py.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import read_table

NOW_ORDERS = "2001-12-01"  # fixed 'today' for the orders-based marts (data ends 2001-11)
NOW_EVENTS = "2024-01-31"  # fixed 'today' for the events-based operators (data = Jan 2024)

# The silver frames (order_items / order_revenue) feed every gold mart, so
# they are memoized and spark-cached per (session, sf_dir) -- the in-process
# analog of the reference's materialized silver zone (EP2 writes silver
# parquet once, EP3's marts re-read it; scripts/cdc_metrics_job.py:190,225),
# and the cache-at-multi-action-nodes fix SURVEY.md §4 calls out.
_SILVER_CACHE: dict[tuple[int, str, str], DataFrame] = {}
# Makes check-then-build atomic, so threads asking for the same frame share
# one build. Reentrant: the order_revenue build asks for order_items.
_SILVER_LOCK = threading.RLock()


def _memoized(spark: SparkSession, sf_dir: str, name: str, build) -> DataFrame:
    key = (id(spark), sf_dir, name)
    with _SILVER_LOCK:
        if key not in _SILVER_CACHE:
            df = build().cache()
            # Materialize EAGERLY (VERDICT r7 item 4): a cold multi-branch mart
            # (churn profile joins three aggregations of order_revenue)
            # otherwise submits its branch stages concurrently and they RACE
            # to compute the still-empty cache partitions -- up to branch-count
            # x the silver build on a fully cold run. One count() makes the
            # build happen exactly once, sequentially, like the reference's
            # materialized silver zone (scripts/cdc_metrics_job.py:190).
            df.count()
            _SILVER_CACHE[key] = df
        return _SILVER_CACHE[key]


def order_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(spark, sf_dir, "order_items", lambda: _order_items(spark, sf_dir))


def _order_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    p = read_table(spark, sf_dir, "part")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(p, li.l_partkey == p.p_partkey)
        .select(
            F.col("l_orderkey").cast("long").alias("ORDER_ID"),
            F.col("l_linenumber").cast("long").alias("LINEITEM_ID"),
            F.col("o_custkey").cast("long").alias("USER_ID"),
            F.col("l_suppkey").cast("long").alias("RESTAURANT_ID"),
            F.col("o_orderpriority").alias("APP_NAME"),
            F.col("p_type").alias("ITEM_CATEGORY"),
            (F.col("c_mktsegment") == "AUTOMOBILE").alias("IS_LOYALTY"),
            F.col("l_extendedprice").cast("double").alias("ITEM_PRICE"),
            F.col("l_shipdate").alias("CREATION_TIME_UTC"),
        )
    )


CTE_ORDER_ITEMS = """
order_items AS (
  SELECT CAST(l.l_orderkey AS BIGINT)   AS ORDER_ID,
         CAST(l.l_linenumber AS BIGINT) AS LINEITEM_ID,
         CAST(o.o_custkey AS BIGINT)    AS USER_ID,
         CAST(l.l_suppkey AS BIGINT)    AS RESTAURANT_ID,
         o.o_orderpriority              AS APP_NAME,
         p.p_type                       AS ITEM_CATEGORY,
         (c.c_mktsegment = 'AUTOMOBILE') AS IS_LOYALTY,
         CAST(l.l_extendedprice AS DOUBLE) AS ITEM_PRICE,
         l.l_shipdate                   AS CREATION_TIME_UTC
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN part p     ON l.l_partkey = p.p_partkey
)"""


def order_item_options(spark: SparkSession, sf_dir: str) -> DataFrame:
    # OPTION_PRICE round-trips through DECIMAL(18,4): the price*rate product
    # is a true 4-decimal value, and the decimal image makes downstream sums
    # exact (functions.numeric module doc).
    #
    # ONE lineitem scan, not a UNION of two filtered scans: both option
    # rows are generated per line with inline(array(struct,...)) and the
    # absent ones dropped -- Catalyst does not merge same-table union
    # branches, so the union shape read lineitem twice (visible as 2 scans
    # in PLANS.md; at 100 TB that is the whole table re-read for a second
    # projection of the same rows). Same rows as the oracle's UNION ALL.
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").cast("long").alias("ORDER_ID"),
        F.col("l_linenumber").cast("long").alias("LINEITEM_ID"),
        F.inline(
            F.array(
                F.struct(
                    F.lit("discount").alias("OPTION_NAME"),
                    F.when(
                        F.col("l_discount") > 0,
                        (-(F.col("l_extendedprice") * F.col("l_discount")))
                        .cast("decimal(18,4)")
                        .cast("double"),
                    ).alias("OPTION_PRICE"),
                ),
                F.struct(
                    F.lit("tax").alias("OPTION_NAME"),
                    F.when(
                        F.col("l_tax") > 0,
                        (F.col("l_extendedprice") * F.col("l_tax"))
                        .cast("decimal(18,4)")
                        .cast("double"),
                    ).alias("OPTION_PRICE"),
                ),
            )
        ),
    ).where(F.col("OPTION_PRICE").isNotNull())


CTE_ORDER_ITEM_OPTIONS = """
order_item_options AS (
  SELECT CAST(l_orderkey AS BIGINT) AS ORDER_ID,
         CAST(l_linenumber AS BIGINT) AS LINEITEM_ID,
         'discount' AS OPTION_NAME,
         CAST(CAST(-(l_extendedprice * l_discount) AS DECIMAL(18,4)) AS DOUBLE) AS OPTION_PRICE
  FROM lineitem WHERE l_discount > 0
  UNION ALL
  SELECT CAST(l_orderkey AS BIGINT),
         CAST(l_linenumber AS BIGINT),
         'tax',
         CAST(CAST(l_extendedprice * l_tax AS DECIMAL(18,4)) AS DOUBLE)
  FROM lineitem WHERE l_tax > 0
)"""


def order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .marts import build_order_revenue

    return _memoized(
        spark,
        sf_dir,
        "order_revenue",
        lambda: build_order_revenue(order_items(spark, sf_dir), order_item_options(spark, sf_dir)),
    )


# TOTAL_REVENUE is the plain double sum of two exact-decimal doubles -- one
# IEEE add, identical in both engines. (Deviation from the reference's
# ROUND(...,2) at :184, which is tie-ambiguous across engines; documented in
# marts.build_order_revenue.)
_CTE_ORDER_REVENUE_BODY = """
order_revenue AS (
  SELECT i.*,
         CAST(i.CREATION_TIME_UTC AS DATE) AS CREATION_DATE,
         COALESCE(CAST(s.__opt_sum AS DOUBLE), 0.0) AS OPTION_PRICE,
         i.ITEM_PRICE + COALESCE(CAST(s.__opt_sum AS DOUBLE), 0.0) AS TOTAL_REVENUE
  FROM order_items i
  LEFT JOIN (
    SELECT ORDER_ID, LINEITEM_ID,
           SUM(CAST(OPTION_PRICE AS DECIMAL(18,4))) AS __opt_sum
    FROM order_item_options GROUP BY 1, 2
  ) s ON i.ORDER_ID = s.ORDER_ID AND i.LINEITEM_ID = s.LINEITEM_ID
)"""

CTE_ORDER_REVENUE = CTE_ORDER_ITEMS + "," + CTE_ORDER_ITEM_OPTIONS + "," + _CTE_ORDER_REVENUE_BODY
