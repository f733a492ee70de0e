"""Graded queries for the reference's silver/gold marts (SURVEY.md §2.10),
each with its DuckDB oracle. Spark side and SQL side share the adapter CTEs
so semantics can only drift in the mart body, which is kept line-for-line
parallel.

Numeric convention (functions.numeric): money sums are exact DECIMAL sums
cast to double; every rounded ratio uses the shared FLOOR(x*10^n + 0.5)/10^n
half-up formula on both sides, so values are bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..functions.numeric import sql_dsum, sql_dsum_over, sql_rhu
from . import adapters, marts
from .adapters import CTE_ORDER_REVENUE, NOW_ORDERS
from .catalog import query


def _revenue(spark: SparkSession, sf_dir: str):
    return adapters.order_revenue(spark, sf_dir)


_SUM_REV = sql_dsum("TOTAL_REVENUE", 4)


@query(
    "order_revenue",
    tags=("min2",),
    oracle=f"""
WITH {CTE_ORDER_REVENUE}
SELECT * FROM order_revenue
""",
)
def q_order_revenue(spark: SparkSession, sf_dir: str):
    return _revenue(spark, sf_dir)


_CUMULATIVE = sql_dsum_over(
    "DAILY_REVENUE",
    "PARTITION BY USER_ID ORDER BY CREATION_DATE ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
    4,
)


@query(
    "fact_ltv_daily",
    tags=("min2",),
    oracle=f"""
WITH {CTE_ORDER_REVENUE},
daily AS (
  SELECT USER_ID, CREATION_DATE, {_SUM_REV} AS DAILY_REVENUE
  FROM order_revenue GROUP BY 1, 2
)
SELECT USER_ID, CREATION_DATE, DAILY_REVENUE,
       {_CUMULATIVE} AS CUMULATIVE_LTV
FROM daily
""",
)
def q_fact_ltv_daily(spark: SparkSession, sf_dir: str):
    return marts.fact_ltv_daily(_revenue(spark, sf_dir))


_CTE_SNAPSHOT = f"""
{CTE_ORDER_REVENUE},
daily AS (
  SELECT USER_ID, CREATION_DATE, {_SUM_REV} AS DAILY_REVENUE
  FROM order_revenue GROUP BY 1, 2
),
ltv AS (
  SELECT USER_ID, CREATION_DATE, DAILY_REVENUE,
         {_CUMULATIVE} AS CUMULATIVE_LTV
  FROM daily
),
snapshot AS (
  SELECT USER_ID, CREATION_DATE, DAILY_REVENUE, CUMULATIVE_LTV
  FROM ltv
  QUALIFY ROW_NUMBER() OVER (PARTITION BY USER_ID ORDER BY CREATION_DATE DESC) = 1
)"""


@query(
    "mart_customer_ltv_snapshot",
    tags=("min2",),
    oracle=f"""
WITH {_CTE_SNAPSHOT}
SELECT * FROM snapshot
""",
)
def q_ltv_snapshot(spark: SparkSession, sf_dir: str):
    return marts.ltv_snapshot(_revenue(spark, sf_dir))


@query(
    "mart_customer_clv_segment",
    tags=("min2",),
    oracle=f"""
WITH {_CTE_SNAPSHOT},
cuts AS (
  SELECT CAST(quantile_cont(CUMULATIVE_LTV, 0.2) AS DOUBLE) AS q0,
         CAST(quantile_cont(CUMULATIVE_LTV, 0.8) AS DOUBLE) AS q1
  FROM snapshot
)
SELECT USER_ID, CUMULATIVE_LTV,
       CASE WHEN CUMULATIVE_LTV <= q0 THEN 'Low'
            WHEN CUMULATIVE_LTV <= q1 THEN 'Medium'
            ELSE 'High' END AS CLV_GROUP
FROM snapshot, cuts
""",
)
def q_clv_segment(spark: SparkSession, sf_dir: str):
    return marts.clv_segment(marts.ltv_snapshot(_revenue(spark, sf_dir)))


@query("mart_customer_clv_segment_approx")
def q_clv_segment_approx(spark: SparkSession, sf_dir: str):
    """Sketch twin of mart_customer_clv_segment (rows-only BY DESIGN):
    ``approx_percentile`` cuts from one mergeable-aggregate pass instead
    of the distributed-ranking exact cuts. The sketch's cut is a REAL
    data value within 1/accuracy relative rank error, not an
    interpolated point, so labels near the cut legitimately differ from
    the exact twin and no SQL engine replays the GK sketch --
    test_marts.py pins the twin agreement (identical labels for ~all
    users, per-label counts within the sketch contract) against the
    oracle-green exact twin."""
    return marts.clv_segment(marts.ltv_snapshot(_revenue(spark, sf_dir)), exact=False)


@query(
    "mart_customer_rfm",
    tags=("min2",),
    oracle=f"""
WITH {CTE_ORDER_REVENUE},
rfm AS (
  SELECT USER_ID,
         COUNT(DISTINCT ORDER_ID) AS FREQUENCY,
         {_SUM_REV} AS MONETARY,
         MAX(CREATION_DATE) AS LAST_PURCHASE_DATE
  FROM order_revenue GROUP BY 1
)
SELECT USER_ID, FREQUENCY, MONETARY, LAST_PURCHASE_DATE,
       datediff('day', LAST_PURCHASE_DATE, DATE '{NOW_ORDERS}') AS RECENCY,
       CASE WHEN datediff('day', LAST_PURCHASE_DATE, DATE '{NOW_ORDERS}') <= 15
                 AND FREQUENCY >= 5 AND MONETARY >= 100 THEN 'VIP'
            WHEN FREQUENCY <= 1
                 AND datediff('day', LAST_PURCHASE_DATE, DATE '{NOW_ORDERS}') <= 15 THEN 'New'
            WHEN datediff('day', LAST_PURCHASE_DATE, DATE '{NOW_ORDERS}') > 45
                 AND FREQUENCY <= 2 THEN 'Churn Risk'
            ELSE 'Standard' END AS SEGMENT
FROM rfm
""",
)
def q_rfm(spark: SparkSession, sf_dir: str):
    return marts.rfm(_revenue(spark, sf_dir), NOW_ORDERS)


@query(
    "mart_customer_churn_profile",
    tags=("min2",),
    oracle=f"""
WITH {CTE_ORDER_REVENUE},
last_order AS (
  SELECT USER_ID, MAX(CREATION_DATE) AS LAST_ORDER_DATE,
         datediff('day', MAX(CREATION_DATE), DATE '{NOW_ORDERS}') AS DAYS_SINCE_LAST_ORDER
  FROM order_revenue GROUP BY 1
),
gaps AS (
  SELECT USER_ID,
         {sql_rhu("CAST(SUM(ORDER_GAP) AS DOUBLE) / COUNT(ORDER_GAP)", 4)} AS AVG_ORDER_GAP_DAYS
  FROM (
    SELECT USER_ID,
           datediff('day',
                    LAG(CREATION_DATE) OVER (PARTITION BY USER_ID ORDER BY CREATION_DATE),
                    CREATION_DATE) AS ORDER_GAP
    FROM order_revenue
  ) GROUP BY 1
),
spend AS (
  SELECT COALESCE(l.USER_ID, p.USER_ID) AS USER_ID,
         COALESCE(l.SPEND_LAST_30, 0) AS SPEND_LAST_30,
         COALESCE(p.SPEND_PREV_30, 0) AS SPEND_PREV_30
  FROM (
    SELECT USER_ID, {_SUM_REV} AS SPEND_LAST_30
    FROM order_revenue
    WHERE CREATION_DATE > DATE '{NOW_ORDERS}' - INTERVAL 30 DAY
    GROUP BY 1
  ) l
  FULL JOIN (
    SELECT USER_ID, {_SUM_REV} AS SPEND_PREV_30
    FROM order_revenue
    WHERE CREATION_DATE > DATE '{NOW_ORDERS}' - INTERVAL 60 DAY
      AND CREATION_DATE <= DATE '{NOW_ORDERS}' - INTERVAL 30 DAY
    GROUP BY 1
  ) p ON l.USER_ID = p.USER_ID
)
SELECT COALESCE(lo.USER_ID, g.USER_ID, s.USER_ID) AS USER_ID,
       lo.LAST_ORDER_DATE,
       lo.DAYS_SINCE_LAST_ORDER,
       g.AVG_ORDER_GAP_DAYS,
       s.SPEND_LAST_30,
       s.SPEND_PREV_30,
       CASE WHEN s.SPEND_PREV_30 = 0 THEN NULL
            ELSE {sql_rhu("(s.SPEND_LAST_30 - s.SPEND_PREV_30) / s.SPEND_PREV_30 * 100", 4)}
       END AS PCT_SPEND_CHANGE,
       CASE WHEN lo.DAYS_SINCE_LAST_ORDER > 45 THEN 'At Risk'
            WHEN lo.DAYS_SINCE_LAST_ORDER > 30 THEN 'Monitor'
            ELSE 'Active' END AS CHURN_RISK_TAG
FROM last_order lo
FULL JOIN gaps g ON lo.USER_ID = g.USER_ID
FULL JOIN spend s ON COALESCE(lo.USER_ID, g.USER_ID) = s.USER_ID
""",
)
def q_churn_profile(spark: SparkSession, sf_dir: str):
    return marts.churn_profile(_revenue(spark, sf_dir), NOW_ORDERS)


_CTE_TRENDS = f"""
{CTE_ORDER_REVENUE},
trends AS (
  SELECT RESTAURANT_ID, ITEM_CATEGORY, TOTAL_REVENUE, CREATION_DATE,
         year(CREATION_DATE) AS YEAR,
         month(CREATION_DATE) AS MONTH,
         year(CREATION_DATE)::VARCHAR || '-' || month(CREATION_DATE)::VARCHAR AS YEAR_MONTH,
         weekofyear(CREATION_DATE) AS WEEK,
         year(CREATION_DATE)::VARCHAR || '-' || weekofyear(CREATION_DATE)::VARCHAR AS YEAR_WEEK,
         hour(CREATION_TIME_UTC) AS HOUR_OF_DAY
  FROM order_revenue
)"""


@query(
    "mart_sales_trends_daily",
    tags=("min2",),
    oracle=f"""
WITH {_CTE_TRENDS}
SELECT CREATION_DATE, RESTAURANT_ID, ITEM_CATEGORY, {_SUM_REV} AS DAILY_REVENUE
FROM trends GROUP BY 1, 2, 3
""",
)
def q_trends_daily(spark: SparkSession, sf_dir: str):
    return marts.sales_trends(_revenue(spark, sf_dir), "daily")


@query(
    "mart_sales_trends_weekly",
    tags=("min2",),
    oracle=f"""
WITH {_CTE_TRENDS}
SELECT YEAR_WEEK, RESTAURANT_ID, ITEM_CATEGORY, {_SUM_REV} AS WEEKLY_REVENUE
FROM trends GROUP BY 1, 2, 3
""",
)
def q_trends_weekly(spark: SparkSession, sf_dir: str):
    return marts.sales_trends(_revenue(spark, sf_dir), "weekly")


@query(
    "mart_sales_trends_monthly",
    tags=("min2",),
    oracle=f"""
WITH {_CTE_TRENDS}
SELECT YEAR_MONTH, RESTAURANT_ID, ITEM_CATEGORY, {_SUM_REV} AS MONTHLY_REVENUE
FROM trends GROUP BY 1, 2, 3
""",
)
def q_trends_monthly(spark: SparkSession, sf_dir: str):
    return marts.sales_trends(_revenue(spark, sf_dir), "monthly")


@query(
    "mart_sales_trends_hourly",
    tags=("min2",),
    oracle=f"""
WITH {_CTE_TRENDS}
SELECT HOUR_OF_DAY, RESTAURANT_ID, ITEM_CATEGORY, {_SUM_REV} AS HOURLY_REVENUE
FROM trends GROUP BY 1, 2, 3
""",
)
def q_trends_hourly(spark: SparkSession, sf_dir: str):
    return marts.sales_trends(_revenue(spark, sf_dir), "hourly")


@query(
    "mart_loyalty_program_impact",
    tags=("min2",),
    oracle=f"""
WITH {CTE_ORDER_REVENUE},
dim AS (
  SELECT DISTINCT ORDER_ID, USER_ID, IS_LOYALTY FROM order_items
),
ltv AS (
  SELECT d.USER_ID, d.IS_LOYALTY, {sql_dsum("r.TOTAL_REVENUE", 4)} AS LIFETIME_VALUE
  FROM order_revenue r LEFT JOIN dim d ON r.ORDER_ID = d.ORDER_ID
  GROUP BY 1, 2
),
ord AS (
  SELECT USER_ID, IS_LOYALTY,
         COUNT(DISTINCT ORDER_ID) AS NUM_ORDERS,
         CASE WHEN COUNT(DISTINCT ORDER_ID) > 1 THEN 1 ELSE 0 END AS IS_REPEAT
  FROM order_items GROUP BY 1, 2
)
SELECT l.IS_LOYALTY,
       COUNT(DISTINCT l.USER_ID) AS NUM_CUSTOMERS,
       {sql_rhu(f'{sql_dsum("l.LIFETIME_VALUE", 4)} / COUNT(l.LIFETIME_VALUE)', 4)} AS AVG_SPEND_PER_CUSTOMER,
       CAST(SUM(o.IS_REPEAT) AS BIGINT) AS NUM_REPEAT_CUSTOMERS,
       {sql_rhu("CAST(SUM(o.IS_REPEAT) AS BIGINT) / COUNT(DISTINCT l.USER_ID)", 6)} AS REPEAT_ORDER_RATE
FROM ltv l JOIN ord o ON l.USER_ID = o.USER_ID AND l.IS_LOYALTY = o.IS_LOYALTY
GROUP BY 1
""",
)
def q_loyalty(spark: SparkSession, sf_dir: str):
    items = adapters.order_items(spark, sf_dir)
    return marts.loyalty_impact(items, _revenue(spark, sf_dir))


@query(
    "mart_location_performance",
    tags=("min2",),
    oracle=f"""
WITH {CTE_ORDER_REVENUE},
joined AS (
  SELECT i.RESTAURANT_ID, i.ORDER_ID,
         CAST(i.CREATION_TIME_UTC AS DATE) AS ORDER_DATE,
         weekofyear(CAST(i.CREATION_TIME_UTC AS DATE)) AS WEEK,
         r.TOTAL_REVENUE
  FROM order_items i JOIN order_revenue r ON i.ORDER_ID = r.ORDER_ID
),
metrics AS (
  SELECT RESTAURANT_ID,
         {_SUM_REV} AS TOTAL_REVENUE,
         COUNT(DISTINCT ORDER_ID) AS NUM_ORDERS,
         COUNT(DISTINCT ORDER_DATE) AS ACTIVE_DAYS,
         COUNT(DISTINCT WEEK) AS ACTIVE_WEEKS
  FROM joined GROUP BY 1
)
SELECT RESTAURANT_ID, TOTAL_REVENUE, NUM_ORDERS, ACTIVE_DAYS, ACTIVE_WEEKS,
       {sql_rhu("TOTAL_REVENUE / NUM_ORDERS", 4)} AS AVG_ORDER_VALUE,
       {sql_rhu("CAST(NUM_ORDERS AS DOUBLE) / ACTIVE_DAYS", 6)} AS ORDERS_PER_DAY,
       {sql_rhu("CAST(NUM_ORDERS AS DOUBLE) / ACTIVE_WEEKS", 6)} AS ORDERS_PER_WEEK,
       CAST(DENSE_RANK() OVER (ORDER BY TOTAL_REVENUE DESC) AS BIGINT) AS REVENUE_RANK
FROM metrics
""",
)
def q_location(spark: SparkSession, sf_dir: str):
    items = adapters.order_items(spark, sf_dir)
    return marts.location_performance(items, _revenue(spark, sf_dir))


@query(
    "mart_discount_effectiveness",
    tags=("min2",),
    oracle=f"""
WITH {CTE_ORDER_REVENUE},
joined AS (
  SELECT i.ORDER_ID,
         CASE WHEN o.OPTION_PRICE < 0 THEN 1 ELSE 0 END AS IS_DISCOUNTED,
         r.TOTAL_REVENUE
  FROM order_items i
  LEFT JOIN order_item_options o
         ON i.ORDER_ID = o.ORDER_ID AND i.LINEITEM_ID = o.LINEITEM_ID
  LEFT JOIN order_revenue r ON i.ORDER_ID = r.ORDER_ID
),
flags AS (
  SELECT ORDER_ID,
         CAST(SUM(IS_DISCOUNTED) AS BIGINT) AS DISCOUNTED_LINES,
         {_SUM_REV} AS ORDER_REVENUE
  FROM joined GROUP BY 1
)
SELECT CASE WHEN DISCOUNTED_LINES > 0 THEN 'Yes' ELSE 'No' END AS IS_DISCOUNTED_ORDER,
       COUNT(DISTINCT ORDER_ID) AS NUM_ORDERS,
       {sql_dsum("ORDER_REVENUE", 4)} AS TOTAL_REVENUE,
       {sql_rhu(f'{sql_dsum("ORDER_REVENUE", 4)} / COUNT(ORDER_REVENUE)', 4)} AS AVG_ORDER_VALUE
FROM flags GROUP BY 1
""",
)
def q_discount(spark: SparkSession, sf_dir: str):
    items = adapters.order_items(spark, sf_dir)
    options = adapters.order_item_options(spark, sf_dir)
    return marts.discount_effectiveness(items, options, _revenue(spark, sf_dir))


@query(
    "mart_sales_trends_all_grains",
    oracle=f"""
WITH {_CTE_TRENDS},
g AS (
  SELECT CAST(CREATION_DATE AS VARCHAR) AS D, YEAR_WEEK AS W, YEAR_MONTH AS M,
         CAST(HOUR_OF_DAY AS VARCHAR) AS H, RESTAURANT_ID, ITEM_CATEGORY, TOTAL_REVENUE
  FROM trends
)
SELECT CASE WHEN GROUPING(D) = 0 THEN 'daily'
            WHEN GROUPING(W) = 0 THEN 'weekly'
            WHEN GROUPING(M) = 0 THEN 'monthly'
            ELSE 'hourly' END AS GRAIN,
       COALESCE(D, W, M, H) AS GRAIN_KEY,
       RESTAURANT_ID, ITEM_CATEGORY,
       {_SUM_REV} AS REVENUE
FROM g
GROUP BY GROUPING SETS (
  (D, RESTAURANT_ID, ITEM_CATEGORY),
  (W, RESTAURANT_ID, ITEM_CATEGORY),
  (M, RESTAURANT_ID, ITEM_CATEGORY),
  (H, RESTAURANT_ID, ITEM_CATEGORY)
)
""",
)
def q_trends_all_grains(spark: SparkSession, sf_dir: str):
    """All four sales-trends grains from ONE scan + ONE shuffle (GROUPING
    SETS Expand), where the per-grain marts pay four of each -- the
    multi-grain consolidation a trends dashboard actually wants. Values
    match the four per-grain marts exactly (pinned in test_marts)."""
    return marts.sales_trends_all_grains(_revenue(spark, sf_dir))
