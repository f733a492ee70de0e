"""SparkSession factory.

The reference builds its session through Glue (scripts/cdc_metrics_job.py:19-21)
and leaves every Spark knob at default. Here we pin the settings that matter for
a deterministic, scale-ready engine:

- UTC session timezone (oracle comparisons against DuckDB's naive timestamps);
- AQE on (runtime re-planning: coalesced shuffles, skew-join splitting,
  dynamic broadcast) -- the primary 100TB-scale lever;
- Arrow for any pandas exchange at the BI edge;
- shuffle partitions sized to the local core count instead of the 200 default
  (on a real cluster this should be ~2-3x total executor cores; AQE coalesces
  down from there);
- a generated-code cache of 2,000 classes instead of Spark's 100. Long-lived
  sessions (timed catalog passes, back-to-back ``CdcPipeline`` runs,
  ``tools/dashboard_serve.py``) run the same plans again and again, and their
  working sets exceed 100: one catalog pass compiles ~120 classes and one daily
  medallion run ~370, so a 100-entry LRU evicted everything and every pass
  recompiled it (Janino, then HotSpot again). 2,000 is over 4x the largest
  working set measured (~450 classes for a cold medallion build, a daily run
  and a dashboard refresh); entries still leave in LRU order. It is a static
  conf: it takes effect only when ``get_spark`` starts the JVM, and a session
  started elsewhere before keeps Spark's 100.

The reference also calls ``datetime.now()`` at module import
(scripts/cdc_metrics_job.py:25) and ``current_timestamp()`` inside plans
(:79-81), which makes outputs non-reproducible. The engine threads an explicit
``now`` (see :class:`Clock`) through every time-relative operator instead.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import date, datetime

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on: a
    fixed default oversubscribes a small machine with task threads."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_memory(ceiling_gb: int = 24) -> str:
    """The driver heap ``get_spark`` asks for when ``SPARK_DRIVER_MEMORY`` is
    unset: half of physical memory, up to ``ceiling_gb`` (24g by default).

    In single-JVM local mode the driver heap IS the executor memory. 8g
    starved the 100x decade bench (SparkOutOfMemoryError inside a graph-edge
    localCheckpoint while 32 task threads shared execution memory), hence
    24g on a large machine. On a small one a 24g heap outgrows the machine
    before it collects garbage: a whole-catalog oracle run on a 15 GB machine
    grew the JVM to ~12 GB of RSS and lost it. Half leaves the rest to the
    Python driver, DuckDB and the OS."""
    half_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2 // 1024**2
    return f"{min(ceiling_gb * 1024, half_mb)}m"


def get_spark(
    app_name: str = "aws-glue-cdc-metrics-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # static: sized to the working set of a long-lived session (docstring)
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Driver testdata's events.parquet stores TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long ns and convert in
        # sources.read_table (lossless: the generator emits whole microseconds).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@dataclass(frozen=True)
class Clock:
    """Injectable 'now' for time-relative operators (RFM recency, churn
    trailing windows). Replaces the reference's module-level
    ``datetime.now()`` (scripts/cdc_metrics_job.py:25) so runs are
    reproducible and testable."""

    now: datetime

    @classmethod
    def fixed(cls, iso: str) -> "Clock":
        return cls(datetime.fromisoformat(iso))

    @property
    def today(self) -> date:
        return self.now.date()

    @property
    def today_str(self) -> str:
        return self.now.strftime("%Y-%m-%d")
