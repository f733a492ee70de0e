"""Gold-mart semantics on hand-computed fixtures (SURVEY.md §2.10)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from aws_glue_cdc_metrics_job_spark.plans import marts

D = dt.datetime


@pytest.fixture(scope="module")
def items(spark):
    # (ORDER_ID, LINEITEM_ID, USER_ID, RESTAURANT_ID, ITEM_CATEGORY, IS_LOYALTY, ITEM_PRICE, CREATION_TIME_UTC)
    rows = [
        (1, 1, 10, 100, "pizza", True, 10.0, D(2024, 1, 1, 12)),
        (1, 2, 10, 100, "drink", True, 2.0, D(2024, 1, 1, 12)),
        (2, 1, 10, 100, "pizza", True, 20.0, D(2024, 1, 3, 18)),
        (3, 1, 20, 200, "salad", False, 8.0, D(2024, 1, 2, 9)),
    ]
    return spark.createDataFrame(
        rows,
        "ORDER_ID int, LINEITEM_ID int, USER_ID int, RESTAURANT_ID int, "
        "ITEM_CATEGORY string, IS_LOYALTY boolean, ITEM_PRICE double, CREATION_TIME_UTC timestamp",
    )


@pytest.fixture(scope="module")
def options(spark):
    rows = [
        (1, 1, "extra cheese", 1.5),
        (1, 1, "coupon", -2.0),
        (3, 1, "dressing", 0.5),
    ]
    return spark.createDataFrame(
        rows, "ORDER_ID int, LINEITEM_ID int, OPTION_NAME string, OPTION_PRICE double"
    )


@pytest.fixture(scope="module")
def revenue(items, options):
    return marts.build_order_revenue(items, options)


def test_order_revenue_join_fill_and_sum(revenue):
    got = {(r["ORDER_ID"], r["LINEITEM_ID"]): (r["OPTION_PRICE"], r["TOTAL_REVENUE"]) for r in revenue.collect()}
    assert got[(1, 1)] == (-0.5, 9.5)   # 1.5 - 2.0 option sum
    assert got[(1, 2)] == (0.0, 2.0)    # no options -> fill 0
    assert got[(2, 1)] == (0.0, 20.0)
    assert got[(3, 1)] == (0.5, 8.5)


def test_order_revenue_parity_round_dual(spark):
    # SURVEY.md §5.5 parity/corrected dual: the reference rounds
    # TOTAL_REVENUE to 2 dp (scripts/cdc_metrics_job.py:184). A half-cent
    # option sum (10.0 + 0.005) distinguishes the modes: corrected keeps the
    # 4-decimal value, parity reproduces the reference's HALF_UP 2 dp.
    items = spark.createDataFrame(
        [(1, 1, 10, 100, "pizza", True, 10.0, D(2024, 1, 1, 12))],
        "ORDER_ID int, LINEITEM_ID int, USER_ID int, RESTAURANT_ID int, "
        "ITEM_CATEGORY string, IS_LOYALTY boolean, ITEM_PRICE double, CREATION_TIME_UTC timestamp",
    )
    options = spark.createDataFrame(
        [(1, 1, "tiny", 0.005)],
        "ORDER_ID int, LINEITEM_ID int, OPTION_NAME string, OPTION_PRICE double",
    )
    corrected = marts.build_order_revenue(items, options).collect()[0]
    parity = marts.build_order_revenue(items, options, parity_round=True).collect()[0]
    assert corrected["TOTAL_REVENUE"] == 10.005
    assert parity["TOTAL_REVENUE"] == 10.01
    # off-tie values agree between the modes at 2 dp
    assert round(corrected["TOTAL_REVENUE"], 2) in (10.0, 10.01)


def test_fact_ltv_daily_cumulative(revenue):
    rows = marts.fact_ltv_daily(revenue).collect()
    u10 = sorted(
        [(r["CREATION_DATE"], r["DAILY_REVENUE"], r["CUMULATIVE_LTV"]) for r in rows if r["USER_ID"] == 10]
    )
    assert u10 == [
        (dt.date(2024, 1, 1), 11.5, 11.5),
        (dt.date(2024, 1, 3), 20.0, 31.5),
    ]


def test_ltv_snapshot_latest_row(revenue):
    snap = {r["USER_ID"]: (r["CREATION_DATE"], r["DAILY_REVENUE"], r["CUMULATIVE_LTV"]) for r in marts.ltv_snapshot(revenue).collect()}
    assert snap == {
        10: (dt.date(2024, 1, 3), 20.0, 31.5),
        20: (dt.date(2024, 1, 2), 8.5, 8.5),
    }


def test_rfm_segments(revenue):
    # now = 2024-01-10: user 10 last purchase Jan 3 (recency 7, freq 2) -> Standard
    # user 20 freq 1, recency 8 -> New
    got = {r["USER_ID"]: (r["FREQUENCY"], r["MONETARY"], r["RECENCY"], r["SEGMENT"]) for r in marts.rfm(revenue, "2024-01-10").collect()}
    assert got[10] == (2, 31.5, 7, "Standard")
    assert got[20] == (1, 8.5, 8, "New")


def test_rfm_vip_and_churn_rules(spark):
    rows = [
        # VIP: 5 orders, monetary 150, recency 5
        *[(i, 1, 1, 1, "c", True, 30.0, D(2024, 1, 5)) for i in range(1, 6)],
        # Churn Risk: 1 order, recency 60
        (10, 1, 2, 1, "c", True, 10.0, D(2023, 11, 11)),
    ]
    items = spark.createDataFrame(
        rows,
        "ORDER_ID int, LINEITEM_ID int, USER_ID int, RESTAURANT_ID int, "
        "ITEM_CATEGORY string, IS_LOYALTY boolean, ITEM_PRICE double, CREATION_TIME_UTC timestamp",
    )
    empty_opts = spark.createDataFrame([], "ORDER_ID int, LINEITEM_ID int, OPTION_NAME string, OPTION_PRICE double")
    revenue = marts.build_order_revenue(items, empty_opts)
    got = {r["USER_ID"]: r["SEGMENT"] for r in marts.rfm(revenue, "2024-01-10").collect()}
    assert got == {1: "VIP", 2: "Churn Risk"}


def test_churn_profile(revenue):
    got = {r["USER_ID"]: r for r in marts.churn_profile(revenue, "2024-01-10").collect()}
    assert got[10]["DAYS_SINCE_LAST_ORDER"] == 7
    # LAG runs over line-item rows (the reference's grain,
    # scripts/cdc_metrics_job.py:335-337): user 10's two same-day lines give
    # gaps [0, 2] -> avg 1.0, not the order-grain 2.0.
    assert got[10]["AVG_ORDER_GAP_DAYS"] == 1.0
    assert got[10]["CHURN_RISK_TAG"] == "Active"
    assert got[10]["SPEND_LAST_30"] == 31.5
    assert got[20]["AVG_ORDER_GAP_DAYS"] is None  # single order -> no gaps


def _revenue_of(spark, rows):
    """order_revenue over (ORDER_ID, USER_ID, ITEM_PRICE, CREATION_TIME_UTC)
    lines, one line per order, no options."""
    items = spark.createDataFrame(
        [(o, 1, u, 1, "c", True, p, t) for o, u, p, t in rows],
        "ORDER_ID int, LINEITEM_ID int, USER_ID int, RESTAURANT_ID int, "
        "ITEM_CATEGORY string, IS_LOYALTY boolean, ITEM_PRICE double, CREATION_TIME_UTC timestamp",
    )
    opts = spark.createDataFrame([], "ORDER_ID int, LINEITEM_ID int, OPTION_NAME string, OPTION_PRICE double")
    return marts.build_order_revenue(items, opts)


def test_churn_window_boundaries(spark):
    # now = 2024-01-10, so now-30 = 2023-12-11 and now-60 = 2023-11-11. The
    # last window is (now-30, ...], the previous one (now-60, now-30].
    rev = _revenue_of(spark, [
        (1, 1, 7.0, D(2023, 12, 11)),   # on now-30: previous window
        (2, 1, 9.0, D(2023, 11, 11)),   # on now-60: outside both
        (3, 1, 4.0, D(2023, 12, 12)),   # a day after now-30: last window
        (4, 2, 3.0, D(2023, 9, 1)),     # active only before the 60 days
        (5, 2, 5.0, D(2023, 8, 1)),
        (6, 3, 6.0, D(2023, 11, 30)),   # previous window only
        (7, 3, 2.0, D(2023, 11, 12)),
    ])
    got = {r["USER_ID"]: r for r in marts.churn_profile(rev, "2024-01-10").collect()}
    assert (got[1]["SPEND_LAST_30"], got[1]["SPEND_PREV_30"], got[1]["PCT_SPEND_CHANGE"]) == (4.0, 7.0, -42.8571)
    # gaps over the dated rows in order: 30 + 1 -> (max - min) / 2
    assert got[1]["AVG_ORDER_GAP_DAYS"] == 15.5
    assert got[1]["DAYS_SINCE_LAST_ORDER"] == 29 and got[1]["CHURN_RISK_TAG"] == "Active"
    assert (got[2]["SPEND_LAST_30"], got[2]["SPEND_PREV_30"], got[2]["PCT_SPEND_CHANGE"]) == (None, None, None)
    assert got[2]["AVG_ORDER_GAP_DAYS"] == 31.0 and got[2]["CHURN_RISK_TAG"] == "At Risk"
    assert (got[3]["SPEND_LAST_30"], got[3]["SPEND_PREV_30"], got[3]["PCT_SPEND_CHANGE"]) == (0.0, 8.0, -100.0)
    assert got[3]["DAYS_SINCE_LAST_ORDER"] == 41 and got[3]["CHURN_RISK_TAG"] == "Monitor"


def test_null_user_keeps_one_aggregate(spark):
    # the oracle's single GROUP BY keeps a NULL user's last purchase date;
    # churn's one aggregate gives a NULL user one row, not one per joined side
    rev = _revenue_of(spark, [
        (1, None, 8.0, D(2024, 1, 2)),
        (2, None, 5.0, D(2023, 10, 2)),
        (3, 1, 2.0, D(2024, 1, 5)),
    ])
    rfm = {r["USER_ID"]: r for r in marts.rfm(rev, "2024-01-10").collect()}
    assert rfm[None]["LAST_PURCHASE_DATE"] == dt.date(2024, 1, 2)
    assert (rfm[None]["RECENCY"], rfm[None]["FREQUENCY"], rfm[None]["MONETARY"]) == (8, 2, 13.0)
    churn = marts.churn_profile(rev, "2024-01-10").collect()
    assert sorted((r["USER_ID"] is None) for r in churn) == [False, True]
    null_user = next(r for r in churn if r["USER_ID"] is None)
    assert null_user["LAST_ORDER_DATE"] == dt.date(2024, 1, 2)
    assert null_user["AVG_ORDER_GAP_DAYS"] == 92.0
    assert (null_user["SPEND_LAST_30"], null_user["SPEND_PREV_30"]) == (8.0, 0.0)


def test_ltv_snapshot_undated_days(spark):
    # the reference's date-descending pick puts a NULL date last: a user
    # with a dated day keeps the latest dated one, a user with only an
    # undated day keeps that one; the cumulative LTV counts every day
    rev = _revenue_of(spark, [
        (1, 1, 4.0, None),
        (2, 1, 6.0, D(2024, 1, 2)),
        (3, 2, 5.0, None),
    ])
    snap = {r["USER_ID"]: tuple(r)[1:] for r in marts.ltv_snapshot(rev).collect()}
    assert snap == {1: (dt.date(2024, 1, 2), 6.0, 10.0), 2: (None, 5.0, 5.0)}


@pytest.mark.parametrize("mart", ["rfm", "churn_profile", "ltv_snapshot"])
def test_customer_marts_are_one_aggregate(spark, revenue, mart):
    # executed over a plain frame, each mart is aggregates and their
    # exchanges only: no window and no join
    base = spark.createDataFrame(revenue.collect(), revenue.schema)
    build = getattr(marts, mart)
    df = build(base) if mart == "ltv_snapshot" else build(base, "2024-01-10")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Join" not in plan and "CartesianProduct" not in plan, plan


def test_sales_trends_grains(revenue):
    daily = marts.sales_trends(revenue, "daily").collect()
    assert {(str(r["CREATION_DATE"]), r["RESTAURANT_ID"], r["ITEM_CATEGORY"], r["DAILY_REVENUE"]) for r in daily} == {
        ("2024-01-01", 100, "pizza", 9.5),
        ("2024-01-01", 100, "drink", 2.0),
        ("2024-01-03", 100, "pizza", 20.0),
        ("2024-01-02", 200, "salad", 8.5),
    }
    hourly = {(r["HOUR_OF_DAY"], r["RESTAURANT_ID"], r["ITEM_CATEGORY"]): r["HOURLY_REVENUE"] for r in marts.sales_trends(revenue, "hourly").collect()}
    assert hourly[(12, 100, "pizza")] == 9.5


def test_loyalty_impact(items, revenue):
    got = {r["IS_LOYALTY"]: r for r in marts.loyalty_impact(items, revenue).collect()}
    # loyalty user 10: 2 orders -> repeat; non-loyalty user 20: 1 order
    assert got[True]["NUM_CUSTOMERS"] == 1 and got[True]["NUM_REPEAT_CUSTOMERS"] == 1
    assert got[True]["REPEAT_ORDER_RATE"] == 1.0
    assert got[False]["NUM_CUSTOMERS"] == 1 and got[False]["NUM_REPEAT_CUSTOMERS"] == 0


def test_location_performance_rank(items, revenue):
    got = {r["RESTAURANT_ID"]: r for r in marts.location_performance(items, revenue).collect()}
    assert got[100]["REVENUE_RANK"] == 1 and got[200]["REVENUE_RANK"] == 2
    assert got[100]["NUM_ORDERS"] == 2 and got[100]["ACTIVE_DAYS"] == 2
    # fan-out preserved: order 1 has 2 lines -> its revenue double-counted via the order-key join
    assert got[100]["TOTAL_REVENUE"] == pytest.approx((9.5 + 2.0) * 2 + 20.0)


def test_discount_effectiveness(items, options, revenue):
    got = {r["IS_DISCOUNTED_ORDER"]: r for r in marts.discount_effectiveness(items, options, revenue).collect()}
    assert got["Yes"]["NUM_ORDERS"] == 1   # order 1 has the negative coupon
    assert got["No"]["NUM_ORDERS"] == 2


def test_clv_segment_buckets(revenue):
    seg = {r["USER_ID"]: r["CLV_GROUP"] for r in marts.clv_segment(marts.ltv_snapshot(revenue)).collect()}
    assert seg == {20: "Low", 10: "High"}


def test_clv_segment_approx_twin_pinned_to_exact(spark, sf_dir):
    """Anchor for the rows-only mart_customer_clv_segment_approx: against
    the oracle-green exact twin, the sketch path must agree on ~every
    user's label -- disagreements are confined to the exact-vs-approx cut
    slivers, bounded by the sketch's rank-error contract."""
    from aws_glue_cdc_metrics_job_spark.plans import adapters

    rev = adapters.order_revenue(spark, sf_dir)
    snap = marts.ltv_snapshot(rev)
    exact = {r["USER_ID"]: r["CLV_GROUP"] for r in marts.clv_segment(snap).collect()}
    approx = {
        r["USER_ID"]: r["CLV_GROUP"]
        for r in marts.clv_segment(snap, exact=False).collect()
    }
    assert set(exact) == set(approx)
    n = len(exact)
    disagree = sum(1 for u in exact if exact[u] != approx[u])
    # accuracy=10000 >= snapshot N at test SFs: the GK sketch is exact,
    # so the approx cut is one of the two neighbor order statistics and
    # only boundary-tied users can flip
    assert disagree <= max(2, n // 100), f"{disagree}/{n} labels flipped"
    for label in ("Low", "Medium", "High"):
        e = sum(1 for v in exact.values() if v == label)
        a = sum(1 for v in approx.values() if v == label)
        assert abs(e - a) <= max(2, n // 100), (label, e, a)


class TestAllGrainsTrends:
    def test_matches_per_grain_marts(self, spark, sf_dir):
        from aws_glue_cdc_metrics_job_spark.plans import adapters, marts
        from pyspark.sql import functions as F

        rev = adapters.order_revenue(spark, sf_dir)
        allg = marts.sales_trends_all_grains(rev)
        got_daily = {
            (r["GRAIN_KEY"], r["RESTAURANT_ID"], r["ITEM_CATEGORY"]): r["REVENUE"]
            for r in allg.filter("GRAIN = 'daily'").collect()
        }
        exp_daily = {
            (str(r["CREATION_DATE"]), r["RESTAURANT_ID"], r["ITEM_CATEGORY"]): r["DAILY_REVENUE"]
            for r in marts.sales_trends(rev, "daily").collect()
        }
        assert got_daily == exp_daily
        got_hourly = {
            (r["GRAIN_KEY"], r["RESTAURANT_ID"], r["ITEM_CATEGORY"]): r["REVENUE"]
            for r in allg.filter("GRAIN = 'hourly'").collect()
        }
        exp_hourly = {
            (str(r["HOUR_OF_DAY"]), r["RESTAURANT_ID"], r["ITEM_CATEGORY"]): r["HOURLY_REVENUE"]
            for r in marts.sales_trends(rev, "hourly").collect()
        }
        assert got_hourly == exp_hourly

    def test_single_expand_single_shuffle(self, spark, sf_dir):
        from aws_glue_cdc_metrics_job_spark.plans import adapters, marts

        rev = adapters.order_revenue(spark, sf_dir)
        plan = (
            marts.sales_trends_all_grains(rev)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Expand") == 1
        # exactly one hash exchange above the (cached) revenue input
        import re

        assert len(re.findall(r"Exchange hashpartitioning\(__", plan)) == 1

    def test_no_temp_view_leak(self, spark, sf_dir):
        """Repeated calls must not accumulate catalog entries (r3 ADVICE):
        the uuid-named view is dropped once the plan is analyzed."""
        from aws_glue_cdc_metrics_job_spark.plans import adapters, marts

        rev = adapters.order_revenue(spark, sf_dir)
        before = {v.name for v in spark.catalog.listTables()}
        out = marts.sales_trends_all_grains(rev)
        marts.sales_trends_all_grains(rev)
        after = {v.name for v in spark.catalog.listTables()}
        assert after == before
        # the plan stays executable after the view is dropped
        assert out.limit(1).count() >= 0
