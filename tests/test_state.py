"""Watermark store + incremental read (SURVEY.md C1/S9)."""

import datetime as dt
import sys
import threading

from aws_glue_cdc_metrics_job_spark.operators.incremental import (
    advance_watermark,
    incremental_read,
)
from aws_glue_cdc_metrics_job_spark.state import DEFAULT_WATERMARK, WatermarkStore


def test_cold_start_default(tmp_path):
    store = WatermarkStore(str(tmp_path / "wm.json"))
    assert store.get("orders") == DEFAULT_WATERMARK


def test_set_get_roundtrip(tmp_path):
    store = WatermarkStore(str(tmp_path / "wm.json"))
    store.set("orders", "2024-03-01")
    assert store.get("orders") == "2024-03-01"
    assert store.get("other") == DEFAULT_WATERMARK


def test_advance_is_monotonic(tmp_path):
    """A replayed (older) run must never move the watermark backwards."""
    store = WatermarkStore(str(tmp_path / "wm.json"))
    store.advance("t", "2024-03-01")
    store.advance("t", "2024-01-01")
    assert store.get("t") == "2024-03-01"


def test_concurrent_advances_lose_no_update(tmp_path):
    """Pipeline units advance their watermarks from concurrent threads; each
    advance rewrites the whole file, so none may drop another's key."""
    store = WatermarkStore(str(tmp_path / "wm.json"))
    barrier = threading.Barrier(8)

    def unit(i):
        barrier.wait()
        for day in range(1, 11):
            store.advance(f"t{i}", f"2024-01-{day:02d}")
            store.advance("shared", f"2024-{i + 1:02d}-{day:02d}")

    threads = [threading.Thread(target=unit, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    for i in range(8):
        assert store.get(f"t{i}") == "2024-01-10"
    assert store.get("shared") == "2024-08-10"


def test_incremental_read_and_advance(spark, tmp_path):
    store = WatermarkStore(str(tmp_path / "wm.json"), default="2024-01-02")
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1)), (2, dt.datetime(2024, 1, 2)), (3, dt.datetime(2024, 1, 3))],
        "id int, ts timestamp",
    )
    got = incremental_read(df, "ts", store, "t")  # strictly greater (silver rule)
    assert {r["id"] for r in got.collect()} == {3}
    new_wm = advance_watermark(got, "ts", store, "t")
    assert new_wm == "2024-01-03 00:00:00"
    # replay with advanced watermark is empty -> idempotent (SURVEY.md C4)
    assert incremental_read(df, "ts", store, "t").isEmpty()


def test_inclusive_read(spark, tmp_path):
    store = WatermarkStore(str(tmp_path / "wm.json"), default="2024-01-02 00:00:00")
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1)), (2, dt.datetime(2024, 1, 2))], "id int, ts timestamp"
    )
    got = incremental_read(df, "ts", store, "t", inclusive=True)  # bronze >= rule
    assert {r["id"] for r in got.collect()} == {2}


def test_advance_empty_returns_none(spark, tmp_path):
    store = WatermarkStore(str(tmp_path / "wm.json"))
    df = spark.createDataFrame([], "id int, ts timestamp")
    assert advance_watermark(df, "ts", store, "t") is None
    assert store.get("t") == DEFAULT_WATERMARK
