"""Gold-mart library (SURVEY.md §2.10): each reference mart as a pure
DataFrame->DataFrame function, parameterized on an explicit ``now``.

Determinism conventions (FIXTURES.md §B): every multi-row aggregate is
rounded (sums/monetary to 2dp, averages/rates to 4-6dp) so the
order-insensitive value hash matches the DuckDB oracle despite
floating-point summation order; every per-group row pick has a total order.

Deviations from the reference, all documented per-site:
- ``order_revenue`` sums options per line item instead of keeping one
  arbitrary option row (scripts/cdc_metrics_job.py:163 dedups the options
  table on a prefix of its PK -- nondeterministic; SURVEY.md §2.10).
- Time-relative marts take ``now`` as a parameter instead of the module
  import time ``datetime.now()`` (:25).
Fan-out joins in the loyalty/location/discount marts are *kept* (they are
deterministic, and they are the reference's observable semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.numeric import dsum, dsum_over, money, rhu, sql_dsum
from ..functions.quantile import quantile_bucket
from ..operators.relational import pct_change


def build_order_revenue(
    items: DataFrame, options: DataFrame, parity_round: bool = False
) -> DataFrame:
    """Silver order_revenue (scripts/cdc_metrics_job.py:174-190): items ⟕
    options with 0-fill, TOTAL_REVENUE = ITEM_PRICE + OPTION_PRICE.
    Options are pre-aggregated per line item (one small partial-agg shuffle)
    which also guards the join against fan-out (SURVEY.md J7).

    Default (corrected) mode: TOTAL_REVENUE stays at the natural 4-decimal
    scale (exact decimal sum of options, single IEEE add) instead of the
    reference's ROUND(...,2) (:184) whose half-cent ties resolve differently
    across engines. ``parity_round=True`` reproduces the reference's 2 dp
    output bit-for-bit (pyspark ``round`` = HALF_UP, same call the reference
    makes) for consumers that must match the reference byte-wise -- the
    parity/corrected dual documented in SURVEY.md §5.5."""
    opt_sum = options.groupBy("ORDER_ID", "LINEITEM_ID").agg(
        dsum("OPTION_PRICE", 4).alias("OPTION_PRICE")
    )
    total = F.col("ITEM_PRICE") + F.col("OPTION_PRICE")
    if parity_round:
        total = F.round(total, 2)
    return (
        items.join(opt_sum, ["ORDER_ID", "LINEITEM_ID"], "left")
        .na.fill({"OPTION_PRICE": 0.0})
        .withColumn("CREATION_DATE", F.to_date("CREATION_TIME_UTC"))
        .withColumn("TOTAL_REVENUE", total)
    )


def fact_ltv_daily(revenue: DataFrame) -> DataFrame:
    """Daily revenue per user + running cumulative LTV
    (scripts/cdc_metrics_job.py:225-234). The pre-aggregation to daily grain
    before the window is the reference's (correct) state-shrinking move;
    the ROWS frame and RANGE coincide because (user, date) is unique.
    Money sums are exact decimal (order-independent across partitions)."""
    daily = revenue.groupBy("USER_ID", "CREATION_DATE").agg(
        dsum("TOTAL_REVENUE", 4).alias("DAILY_REVENUE")
    )
    w = (
        Window.partitionBy("USER_ID")
        .orderBy("CREATION_DATE")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.withColumn("CUMULATIVE_LTV", dsum_over(F.col("DAILY_REVENUE"), w, 4))


def ltv_snapshot(ltv: DataFrame) -> DataFrame:
    """Latest row per user (scripts/cdc_metrics_job.py:244-251). Ties are
    impossible post-aggregation (one row per user-date), so row_number on
    date desc is deterministic."""
    w = Window.partitionBy("USER_ID").orderBy(F.col("CREATION_DATE").desc())
    return (
        ltv.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") == 1)
        .drop("rank")
    )


def clv_segment(snapshot: DataFrame, exact: bool = True) -> DataFrame:
    """20/60/20 CLV split (scripts/cdc_metrics_job.py:256-266) computed
    natively with exact percentiles instead of the driver-side pd.qcut
    round-trip (SURVEY.md Q1). The exact cuts use the distributed-ranking
    shape (functions/quantile.ranked_quantile_cuts) -- no single-reducer
    percentile buffer; ``exact=False`` is the approx_percentile sketch
    twin (one mergeable pass, cut lands on a real data value within the
    sketch's rank error)."""
    return quantile_bucket(
        snapshot.select("USER_ID", "CUMULATIVE_LTV"),
        "CUMULATIVE_LTV",
        probs=[0.2, 0.8],
        labels=["Low", "Medium", "High"],
        out_col="CLV_GROUP",
        exact=exact,
    )


def rfm(revenue: DataFrame, now: str) -> DataFrame:
    """RFM + rule segmentation (scripts/cdc_metrics_job.py:281-310).
    The reference's 90-day window filter is disabled in its code (:287-288),
    so FREQUENCY/MONETARY are lifetime values -- reproduced here."""
    last_purchase = revenue.groupBy("USER_ID").agg(
        F.max("CREATION_DATE").alias("LAST_PURCHASE_DATE")
    )
    out = (
        revenue.groupBy("USER_ID")
        .agg(
            F.countDistinct("ORDER_ID").alias("FREQUENCY"),
            dsum("TOTAL_REVENUE", 4).alias("MONETARY"),
        )
        .join(last_purchase, "USER_ID", "left")
        .withColumn("RECENCY", F.datediff(F.lit(now), F.col("LAST_PURCHASE_DATE")).cast("long"))
    )
    return out.withColumn(
        "SEGMENT",
        F.when(
            (F.col("RECENCY") <= 15) & (F.col("FREQUENCY") >= 5) & (F.col("MONETARY") >= 100),
            "VIP",
        )
        .when((F.col("FREQUENCY") <= 1) & (F.col("RECENCY") <= 15), "New")
        .when((F.col("RECENCY") > 45) & (F.col("FREQUENCY") <= 2), "Churn Risk")
        .otherwise("Standard"),
    )


def churn_profile(revenue: DataFrame, now: str) -> DataFrame:
    """Churn indicators (scripts/cdc_metrics_job.py:325-366): days since
    last order, average inter-order gap (LAG), trailing 30d vs previous 30d
    spend with pct change, rule tag. The gap multiset is invariant to tie
    order among equal dates, so AVG is deterministic."""
    last_order = revenue.groupBy("USER_ID").agg(
        F.max("CREATION_DATE").alias("LAST_ORDER_DATE")
    ).withColumn(
        "DAYS_SINCE_LAST_ORDER", F.datediff(F.lit(now), F.col("LAST_ORDER_DATE")).cast("long")
    )

    w = Window.partitionBy("USER_ID").orderBy("CREATION_DATE")
    gaps = (
        revenue.withColumn("PREV_ORDER_DATE", F.lag("CREATION_DATE").over(w))
        .withColumn("ORDER_GAP", F.datediff("CREATION_DATE", "PREV_ORDER_DATE"))
        .groupBy("USER_ID")
        .agg(
            rhu(
                F.sum("ORDER_GAP").cast("double") / F.count("ORDER_GAP"), 4
            ).alias("AVG_ORDER_GAP_DAYS")
        )
    )

    cutoff_30 = F.date_sub(F.lit(now).cast("date"), 30)
    cutoff_60 = F.date_sub(F.lit(now).cast("date"), 60)
    spend_last = revenue.filter(F.col("CREATION_DATE") > cutoff_30).groupBy("USER_ID").agg(
        dsum("TOTAL_REVENUE", 4).alias("SPEND_LAST_30")
    )
    spend_prev = (
        revenue.filter((F.col("CREATION_DATE") > cutoff_60) & (F.col("CREATION_DATE") <= cutoff_30))
        .groupBy("USER_ID")
        .agg(dsum("TOTAL_REVENUE", 4).alias("SPEND_PREV_30"))
    )
    spend = (
        spend_last.join(spend_prev, "USER_ID", "outer")
        .fillna(0, ["SPEND_LAST_30", "SPEND_PREV_30"])
        .withColumn(
            "PCT_SPEND_CHANGE",
            rhu(pct_change(F.col("SPEND_LAST_30"), F.col("SPEND_PREV_30")), 4),
        )
    )

    return (
        last_order.join(gaps, "USER_ID", "outer")
        .join(spend, "USER_ID", "outer")
        .withColumn(
            "CHURN_RISK_TAG",
            F.when(F.col("DAYS_SINCE_LAST_ORDER") > 45, "At Risk")
            .when(F.col("DAYS_SINCE_LAST_ORDER") > 30, "Monitor")
            .otherwise("Active"),
        )
    )


def with_calendar_grains(revenue: DataFrame) -> DataFrame:
    """THE grain-key definitions shared by every trends consumer.
    YEAR_WEEK deliberately combines calendar year with ISO week -- the
    reference's observable behavior around Jan 1 (SURVEY.md F4),
    reproduced; single definition so the per-grain marts and the
    all-grains GROUPING SETS pass can never disagree."""
    return (
        revenue.withColumn("YEAR", F.year("CREATION_DATE"))
        .withColumn("MONTH", F.month("CREATION_DATE"))
        .withColumn("YEAR_MONTH", F.concat_ws("-", F.col("YEAR"), F.col("MONTH")))
        .withColumn("WEEK", F.weekofyear("CREATION_DATE"))
        .withColumn("YEAR_WEEK", F.concat_ws("-", F.col("YEAR"), F.col("WEEK")))
        .withColumn("HOUR_OF_DAY", F.hour("CREATION_TIME_UTC"))
    )


def sales_trends(revenue: DataFrame, grain: str) -> DataFrame:
    """Calendar-rollup revenue by restaurant x category
    (scripts/cdc_metrics_job.py:383-418)."""
    df = with_calendar_grains(revenue)
    grains = {
        "daily": ("CREATION_DATE", "DAILY_REVENUE"),
        "weekly": ("YEAR_WEEK", "WEEKLY_REVENUE"),
        "monthly": ("YEAR_MONTH", "MONTHLY_REVENUE"),
        "hourly": ("HOUR_OF_DAY", "HOURLY_REVENUE"),
    }
    key, alias = grains[grain]
    return df.groupBy(key, "RESTAURANT_ID", "ITEM_CATEGORY").agg(
        dsum("TOTAL_REVENUE", 4).alias(alias)
    )


def loyalty_impact(items: DataFrame, revenue: DataFrame) -> DataFrame:
    """Loyalty program impact (scripts/cdc_metrics_job.py:440-472). The
    reference picks the order's loyalty flag from an arbitrary deduped line
    (:450); here USER_ID/IS_LOYALTY are order-constant by construction, so
    ``distinct`` on the triple is its deterministic equivalent."""
    dim = items.select("ORDER_ID", "USER_ID", "IS_LOYALTY").distinct()
    joined = revenue.select("ORDER_ID", "LINEITEM_ID", "TOTAL_REVENUE").join(dim, "ORDER_ID", "left")
    ltv = joined.groupBy("USER_ID", "IS_LOYALTY").agg(
        dsum("TOTAL_REVENUE", 4).alias("LIFETIME_VALUE")
    )
    orders_per = (
        items.groupBy("USER_ID", "IS_LOYALTY")
        .agg(F.countDistinct("ORDER_ID").alias("NUM_ORDERS"))
        .withColumn("IS_REPEAT", F.when(F.col("NUM_ORDERS") > 1, 1).otherwise(0))
    )
    combined = ltv.join(orders_per, ["USER_ID", "IS_LOYALTY"], "inner")
    return (
        combined.groupBy("IS_LOYALTY")
        .agg(
            F.countDistinct("USER_ID").alias("NUM_CUSTOMERS"),
            rhu(dsum("LIFETIME_VALUE", 4) / F.count("LIFETIME_VALUE"), 4).alias(
                "AVG_SPEND_PER_CUSTOMER"
            ),
            F.sum("IS_REPEAT").cast("long").alias("NUM_REPEAT_CUSTOMERS"),
        )
        .withColumn(
            "REPEAT_ORDER_RATE",
            rhu(F.col("NUM_REPEAT_CUSTOMERS") / F.col("NUM_CUSTOMERS"), 6),
        )
    )


def location_performance(items: DataFrame, revenue: DataFrame) -> DataFrame:
    """Location KPIs + revenue rank (scripts/cdc_metrics_job.py:488-514).
    The order-key join fans line items out against line-level revenue --
    the reference's observable (if inflated) semantics, kept because it is
    deterministic. ACTIVE_WEEKS counts bare ISO week numbers across years
    (:495,502) -- also kept. The global dense_rank window is single-partition
    but runs on the aggregated frame (one row per restaurant), so it is safe
    at any input scale."""
    df = (
        items.select("ORDER_ID", "RESTAURANT_ID", "CREATION_TIME_UTC")
        .join(revenue.select("ORDER_ID", "TOTAL_REVENUE"), "ORDER_ID", "inner")
        .withColumn("ORDER_DATE", F.to_date("CREATION_TIME_UTC"))
        .withColumn("WEEK", F.weekofyear("ORDER_DATE"))
    )
    # Two-level aggregation: collapse the line x line fan-out to one row
    # per (restaurant, order, date, week) first (exact decimal partials, so
    # the re-sum is identical). Line timestamps vary within an order, so
    # the distinct keys all stay countDistinct — but the multi-distinct
    # expand (x3 row multiplication) now runs over the collapsed frame
    # instead of the raw join output.
    per_key = df.groupBy("RESTAURANT_ID", "ORDER_ID", "ORDER_DATE", "WEEK").agg(
        F.sum(money("TOTAL_REVENUE", 4)).alias("__rev")
    )
    metrics = (
        per_key.groupBy("RESTAURANT_ID")
        .agg(
            F.sum("__rev").cast("double").alias("TOTAL_REVENUE"),
            F.countDistinct("ORDER_ID").alias("NUM_ORDERS"),
            F.countDistinct("ORDER_DATE").alias("ACTIVE_DAYS"),
            F.countDistinct("WEEK").alias("ACTIVE_WEEKS"),
        )
        .withColumn("AVG_ORDER_VALUE", rhu(F.col("TOTAL_REVENUE") / F.col("NUM_ORDERS"), 4))
        .withColumn("ORDERS_PER_DAY", rhu(F.col("NUM_ORDERS").cast("double") / F.col("ACTIVE_DAYS"), 6))
        .withColumn("ORDERS_PER_WEEK", rhu(F.col("NUM_ORDERS").cast("double") / F.col("ACTIVE_WEEKS"), 6))
    )
    w = Window.orderBy(F.col("TOTAL_REVENUE").desc())
    return metrics.withColumn("REVENUE_RANK", F.dense_rank().over(w).cast("long"))


def discount_effectiveness(items: DataFrame, options: DataFrame, revenue: DataFrame) -> DataFrame:
    """Discounted-vs-not order KPIs (scripts/cdc_metrics_job.py:539-563).
    Keeps the reference's two fan-out joins (line x option, then x order
    revenue) -- deterministic, observable semantics."""
    joined = (
        items.select("ORDER_ID", "LINEITEM_ID", "USER_ID")
        .join(options.select("ORDER_ID", "LINEITEM_ID", "OPTION_PRICE"), ["ORDER_ID", "LINEITEM_ID"], "left")
        .join(revenue.select("ORDER_ID", "TOTAL_REVENUE"), "ORDER_ID", "left")
        .withColumn("IS_DISCOUNTED", F.when(F.col("OPTION_PRICE") < 0, 1).otherwise(0))
    )
    flags = (
        joined.groupBy("ORDER_ID")
        .agg(
            F.sum("IS_DISCOUNTED").cast("long").alias("DISCOUNTED_LINES"),
            dsum("TOTAL_REVENUE", 4).alias("ORDER_REVENUE"),
        )
        .withColumn(
            "IS_DISCOUNTED_ORDER",
            F.when(F.col("DISCOUNTED_LINES") > 0, "Yes").otherwise("No"),
        )
    )
    # flags is grouped by ORDER_ID, so the key is unique here: plain count
    # replaces the reference's countDistinct (identical value, no
    # distinct-expand in the plan).
    return flags.groupBy("IS_DISCOUNTED_ORDER").agg(
        F.count("ORDER_ID").alias("NUM_ORDERS"),
        dsum("ORDER_REVENUE", 4).alias("TOTAL_REVENUE"),
        rhu(dsum("ORDER_REVENUE", 4) / F.count("ORDER_REVENUE"), 4).alias("AVG_ORDER_VALUE"),
    )


def sales_trends_all_grains(revenue: DataFrame) -> DataFrame:
    """All four sales-trends grains in ONE pass: a GROUPING SETS plan over
    (grain key, restaurant, category) reads order_revenue once (Catalyst
    Expand x4 feeding a single aggregation), where the four per-grain
    marts cost four scans and four shuffles. Long form (GRAIN, GRAIN_KEY,
    RESTAURANT_ID, ITEM_CATEGORY, REVENUE); per-grain frames are a
    filter + rename away, values identical to sales_trends() by
    construction.

    The Expand runs directly over the fact stream, so the shuffle carries
    4N rows. Pre-aggregating to the finest common grain (date, hour,
    restaurant, category) first would shuffle N rows once, but on the
    driver workload that grain does NOT collapse (sf0.1: 600,000 fact
    rows -> 588,104 base rows, ratio 1.02): the pre-aggregate was a
    near-input-cardinality hash aggregate materialized for nothing and
    measured ~3x SLOWER cold (41 s vs 13.5 s). A 4-branch union of
    per-grain rollups was also measured and rejected: AQE gave the four
    branches no stage reuse, so the base subtree ran four times."""
    g = with_calendar_grains(revenue).select(
        F.col("CREATION_DATE").cast("string").alias("__D"),
        F.col("YEAR_WEEK").alias("__W"),
        F.col("YEAR_MONTH").alias("__M"),
        F.col("HOUR_OF_DAY").cast("string").alias("__H"),
        "RESTAURANT_ID",
        "ITEM_CATEGORY",
        "TOTAL_REVENUE",
    )
    # unique view name: repeated calls must not clobber a shared catalog
    # entry out from under a concurrent consumer. Analysis is eager at
    # spark.sql() time (the resolved relation is captured in the plan),
    # so the view can be dropped immediately after -- long-lived sessions
    # must not accumulate a catalog entry per call.
    import uuid

    view = f"_trends_all_grains_{uuid.uuid4().hex}"
    g.createOrReplaceTempView(view)
    try:
        out = g.sparkSession.sql(
            f"""
            SELECT CASE WHEN grouping(__D) = 0 THEN 'daily'
                        WHEN grouping(__W) = 0 THEN 'weekly'
                        WHEN grouping(__M) = 0 THEN 'monthly'
                        ELSE 'hourly' END AS GRAIN,
                   coalesce(__D, __W, __M, __H) AS GRAIN_KEY,
                   RESTAURANT_ID, ITEM_CATEGORY,
                   {sql_dsum('TOTAL_REVENUE', 4)} AS REVENUE
            FROM {view}
            GROUP BY GROUPING SETS (
              (__D, RESTAURANT_ID, ITEM_CATEGORY),
              (__W, RESTAURANT_ID, ITEM_CATEGORY),
              (__M, RESTAURANT_ID, ITEM_CATEGORY),
              (__H, RESTAURANT_ID, ITEM_CATEGORY)
            )
            """
        )
    finally:
        g.sparkSession.catalog.dropTempView(view)
    return out
