"""End-to-end medallion pipeline: bronze CDC -> silver -> gold over two
incremental runs on reference-shaped fixtures (FIXTURES.md §A)."""

import datetime as dt
import os
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from aws_glue_cdc_metrics_job_spark import pipeline
from aws_glue_cdc_metrics_job_spark.pipeline import REFERENCE_TABLES, CdcPipeline, TableSpec
from aws_glue_cdc_metrics_job_spark.plans import adapters, marts
from aws_glue_cdc_metrics_job_spark.session import Clock
from aws_glue_cdc_metrics_job_spark.sources import MedallionLayout, read_parquet
from aws_glue_cdc_metrics_job_spark.state import WatermarkStore

D = dt.datetime

ITEM_SCHEMA = (
    "ORDER_ID string, LINEITEM_ID string, USER_ID string, RESTAURANT_ID string, "
    "ITEM_CATEGORY string, IS_LOYALTY boolean, ITEM_PRICE string, CREATION_TIME_UTC timestamp"
)
OPT_SCHEMA = "ORDER_ID string, LINEITEM_ID string, OPTION_NAME string, OPTION_PRICE string"

ITEMS_R1 = [
    ("o1", "1", "u1", "r1", "pizza", True, "10.0", D(2024, 1, 1, 12)),
    ("o1", "1", "u1", "r1", "pizza", True, "10.0", D(2024, 1, 1, 12)),  # raw duplicate
    ("o1", "2", "u1", "r1", "drink", True, "2.0", D(2024, 1, 1, 12)),
    ("o2", "1", "u2", "r2", "salad", False, "8.0", D(2024, 1, 2, 9)),
]
OPTS_R1 = [
    ("o1", "1", "cheese", "1.5"),
    ("o1", "1", "coupon", "-2.0"),
]
ITEMS_R2 = [  # one genuinely new order + one replay below the watermark
    ("o3", "1", "u1", "r1", "pizza", True, "20.0", D(2024, 1, 5, 18)),
    ("o2", "1", "u2", "r2", "salad", False, "8.0", D(2024, 1, 2, 9)),
]
OPTS_R2 = [  # cheese price changed (update), coupon removed (delete), new dressing (insert)
    ("o1", "1", "cheese", "1.75"),
    ("o3", "1", "dressing", "0.5"),
]

# The reference's three-table config (scripts/cdc_metrics_job.py:41-46),
# including date_dim's dedicated silver variant (:194-215).
TABLES = REFERENCE_TABLES
assert [t.name for t in TABLES] == ["order_items", "order_item_options", "date_dim"]

DATE_SCHEMA = "date_key string, day_of_week int"
DATES_R1 = [("2024-01-01", 1), ("2024-01-02", 2)]
DATES_R2 = DATES_R1 + [("2024-01-05", 5)]  # one new calendar row

GOLD_MARTS = [
    "fact_ltv_daily",
    "mart_customer_ltv_snapshot",
    "mart_customer_clv_segment",
    "mart_customer_rfm",
    "mart_customer_churn_profile",
    "mart_sales_trends_daily",
    "mart_sales_trends_weekly",
    "mart_sales_trends_monthly",
    "mart_sales_trends_hourly",
    "mart_loyalty_program_impact",
    "mart_location_performance",
    "mart_discount_effectiveness",
]

# The fixture's two runs execute under this caller-set job group.
JOB_GROUP = "medallion-fixture"
# Spark jobs the fixture starts, as measured with the stages still run one
# unit after another. Guards against duplicated cache work: concurrent units
# racing to fill one cached frame would each compute it again.
FIXTURE_JOBS = 251


@pytest.fixture(scope="module")
def pipeline_runs(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("medallion"))
    layout = MedallionLayout(root)
    store = WatermarkStore(f"{root}/state.json")

    def mk_pipeline(day):
        return CdcPipeline(spark, layout, store, Clock.fixed(day), TABLES)

    def src(items, opts, dates):
        frames = {
            "order_items": spark.createDataFrame(items, ITEM_SCHEMA),
            "order_item_options": spark.createDataFrame(opts, OPT_SCHEMA),
            "date_dim": spark.createDataFrame(dates, DATE_SCHEMA),
        }
        return lambda name: frames[name]

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(JOB_GROUP, "two-run medallion fixture")
    try:
        p1 = mk_pipeline("2024-01-03T00:00:00")
        p1.run_all(src(ITEMS_R1, OPTS_R1, DATES_R1))
        changes1 = {
            t: read_parquet(spark, layout.cdc(t, "2024-01-03")).collect()
            for t in ("order_items", "order_item_options", "date_dim")
        }
        p2 = mk_pipeline("2024-01-06T00:00:00")
        changes2_frames = p2.run_bronze(src(ITEMS_R2, OPTS_R2, DATES_R2))
        changes2 = {t: df.collect() for t, df in changes2_frames.items()}
        p2.run_silver()
        p2.build_order_revenue("order_items", "order_item_options")
        p2.run_gold()
    finally:
        sc._jsc.clearJobGroup()
    observed = {
        "grouped": set(tracker.getJobIdsForGroup(JOB_GROUP)),
        "ungrouped": set(tracker.getJobIdsForGroup(None)) - ungrouped_before,
        "columns2": {t: df.columns for t, df in changes2_frames.items()},
    }
    return spark, layout, store, changes1, changes2, observed


def test_bronze_dedups_raw_extract(pipeline_runs):
    spark, layout, *_ = pipeline_runs
    raw = read_parquet(spark, layout.bronze("order_items", "2024-01-03"))
    assert raw.count() == 3  # the duplicate raw row collapsed


def test_run1_changes_are_all_inserts(pipeline_runs):
    *_, changes1, _, _ = pipeline_runs
    assert {r["cdc_action"] for r in changes1["order_items"]} == {"insert"}
    assert {r["cdc_action"] for r in changes1["order_item_options"]} == {"insert"}
    assert len(changes1["order_item_options"]) == 2


def test_run2_snapshot_diff_actions(pipeline_runs):
    *_, changes2, _ = pipeline_runs
    by_action = {}
    for r in changes2["order_item_options"]:
        by_action.setdefault(r["cdc_action"], set()).add((r["ORDER_ID"], r["OPTION_NAME"]))
    assert by_action == {
        "insert": {("o3", "dressing")},
        "update": {("o1", "cheese")},
        "delete": {("o1", "coupon")},
    }


def test_run2_change_sets_keep_the_logged_column_order(pipeline_runs):
    # the change sets are re-read from the log with a known schema instead
    # of an inferred one; the order must be what inference gives: the data
    # columns, then the cdc_action partition column
    spark, layout, *_, observed = pipeline_runs
    for table, columns in observed["columns2"].items():
        assert columns == read_parquet(spark, layout.cdc(table, "2024-01-06")).columns, table
        assert columns[-1] == "cdc_action"


def test_run2_watermarked_table_at_least_once(pipeline_runs):
    *_, changes2, _ = pipeline_runs
    items = changes2["order_items"]
    # bronze reads >= the watermark (the reference's :64 semantics), so the
    # o2 replay sitting exactly at the mark re-enters -- at-least-once by
    # design; silver's strictly-greater date filter drops it again (C4),
    # asserted in test_silver_accumulates_across_runs.
    assert {(r["ORDER_ID"], r["cdc_action"]) for r in items} == {
        ("o2", "insert"),
        ("o3", "insert"),
    }


def test_watermarks_advanced(pipeline_runs):
    _, _, store, *_ = pipeline_runs
    assert store.get("bronze/order_items") == "2024-01-05 18:00:00"
    assert store.get("silver/order_items") == "2024-01-05"


def test_silver_accumulates_across_runs(pipeline_runs):
    spark, layout, *_ = pipeline_runs
    silver = read_parquet(spark, layout.silver("order_items"))
    assert {r["ORDER_ID"] for r in silver.collect()} == {"o1", "o2", "o3"}
    assert silver.count() == 4
    assert dict(silver.dtypes)["ITEM_PRICE"] == "double"


def test_snapshot_matches_current_source(pipeline_runs):
    spark, layout, *_ = pipeline_runs
    snap = read_parquet(spark, layout.snapshot("order_item_options"))
    got = {(r["ORDER_ID"], r["OPTION_NAME"]): r["OPTION_PRICE"] for r in snap.collect()}
    assert got == {("o1", "cheese"): "1.75", ("o3", "dressing"): "0.5"}


def test_gold_ltv_consistent_with_silver_revenue(pipeline_runs):
    spark, layout, *_ = pipeline_runs
    from aws_glue_cdc_metrics_job_spark.plans import marts

    revenue = read_parquet(spark, layout.silver("order_revenue"))
    expected = {
        (r["USER_ID"], str(r["CREATION_DATE"])): (r["DAILY_REVENUE"], r["CUMULATIVE_LTV"])
        for r in marts.fact_ltv_daily(revenue).collect()
    }
    got = {
        (r["USER_ID"], str(r["CREATION_DATE"])): (r["DAILY_REVENUE"], r["CUMULATIVE_LTV"])
        for r in read_parquet(spark, layout.gold("fact_ltv_daily")).collect()
    }
    assert got == expected
    # u1: o1 lines (10 + 1.75 cheese, 2.0) on Jan1, o3 (20 + 0.5) on Jan5
    assert got[("u1", "2024-01-01")] == (13.75, 13.75)
    assert got[("u1", "2024-01-05")] == (20.5, 34.25)


def test_date_dim_silver_accumulates_and_watermark_advances(pipeline_runs):
    # the reference's process_silver_date_dim variant (:194-215): run 1
    # conforms both seed dates, run 2 appends only the strictly-newer one
    spark, layout, store, changes1, changes2, _ = pipeline_runs
    assert {r["date_key"] for r in changes1["date_dim"]} == {"2024-01-01", "2024-01-02"}
    assert {(r["date_key"], r["cdc_action"]) for r in changes2["date_dim"]} == {
        ("2024-01-05", "insert")
    }
    silver = read_parquet(spark, layout.silver("date_dim"))
    got = {(r["date_key"], str(r["CREATION_DATE"])) for r in silver.collect()}
    assert got == {
        ("2024-01-01", "2024-01-01"),
        ("2024-01-02", "2024-01-02"),
        ("2024-01-05", "2024-01-05"),
    }
    assert store.get("silver/date_dim") == "2024-01-05"


def test_cdc_log_partitioned_by_action(pipeline_runs):
    import os

    _, layout, *_ = pipeline_runs
    path = layout.cdc("order_item_options", "2024-01-06")
    parts = {d for d in os.listdir(path) if d.startswith("cdc_action=")}
    assert parts == {"cdc_action=insert", "cdc_action=update", "cdc_action=delete"}


def test_all_gold_marts_written(pipeline_runs):
    spark, layout, *_ = pipeline_runs
    for mart in GOLD_MARTS:
        assert read_parquet(spark, layout.gold(mart)).count() > 0, mart


def test_run_all_jobs_stay_in_callers_job_group(pipeline_runs):
    # the stage units run on pool threads; each must inherit the caller's
    # job group, or its jobs would show up ungrouped
    *_, observed = pipeline_runs
    assert observed["grouped"]
    assert observed["ungrouped"] == set()


def test_fixture_job_count_not_above_serial(pipeline_runs):
    *_, observed = pipeline_runs
    assert len(observed["grouped"]) <= FIXTURE_JOBS, len(observed["grouped"])


def _gold_rows(spark, layout, mart):
    return sorted(map(repr, read_parquet(spark, layout.gold(mart)).collect()))


def test_failed_gold_unit_raises_after_the_others_and_reruns_clean(pipeline_runs, tmp_path, monkeypatch):
    spark, layout, *_ = pipeline_runs
    root = str(tmp_path / "zones")
    shutil.copytree(layout.root, root, ignore=shutil.ignore_patterns("gold"))
    copy = MedallionLayout(root)
    p = CdcPipeline(
        spark, copy, WatermarkStore(f"{root}/state.json"), Clock.fixed("2024-01-06T00:00:00"), TABLES
    )

    written = []
    real_write = pipeline.write_parquet

    def recording_write(df, path, *args, **kwargs):
        real_write(df, path, *args, **kwargs)
        written.append(os.path.basename(path))

    boom = RuntimeError("rfm builder failed")

    def failing_rfm(*args, **kwargs):
        raise boom

    monkeypatch.setattr(pipeline, "write_parquet", recording_write)
    monkeypatch.setattr(marts, "rfm", failing_rfm)
    with pytest.raises(RuntimeError) as raised:
        p.run_gold()
    assert raised.value is boom
    # the failing unit raised at once; the stage still waited for the rest
    assert sorted(written) == sorted(m for m in GOLD_MARTS if m != "mart_customer_rfm")
    assert not os.path.exists(copy.gold("mart_customer_rfm"))

    monkeypatch.undo()
    p.run_gold()
    for mart in GOLD_MARTS:
        assert _gold_rows(spark, copy, mart) == _gold_rows(spark, layout, mart), mart


def test_memoized_frame_is_built_once_across_threads(spark, monkeypatch):
    # two bronze units read order_items at once; they must share one build
    monkeypatch.setattr(adapters, "_SILVER_CACHE", {})
    builds = []

    def counting_build(spark, sf_dir):
        builds.append(sf_dir)
        return spark.range(1000)

    monkeypatch.setattr(adapters, "_order_items", counting_build)
    barrier = threading.Barrier(2)
    got = [None, None]

    def fetch(i):
        barrier.wait()
        got[i] = adapters.order_items(spark, "two-threads")

    threads = [threading.Thread(target=fetch, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert builds == ["two-threads"]
    assert got[0] is not None and got[0] is got[1]
    got[0].unpersist()
