"""Medallion pipeline runner: bronze CDC -> silver conform -> gold marts.

The reference runs this as three externally-sequenced Glue jobs
(.github/workflows/deploy-glue-job.yml:38-42) of straight-line script code
(scripts/cdc_metrics_job_bronze.py / _silver.py / _gold.py). Here the same
lifecycle is one explicit, testable object over the operator library:

- bronze (scripts/cdc_metrics_job.py:48-112): per-table raw extract ->
  dropDuplicates -> ingest metadata -> either append-only CDC for
  watermarked tables (C3) or snapshot-diff CDC (C2) -> action-partitioned
  CDC log + refreshed snapshot.
- silver (:126-192): watermark-filtered conform (cast, event date, keyed
  dedup) appended, watermark advanced to max processed date (the correct
  advance rule of the two the reference uses, SURVEY.md C1); then the
  order_revenue join overwritten.
- gold (:225-571): the mart library over silver, each overwritten.

The stages keep the reference's order, but inside a stage the independent
units run concurrently: bronze and silver one unit per table, gold one unit
per mart write. The reference issues them one after another, which leaves
the task slots idle while the driver plans, commits and lists each write;
submitted from a thread pool as wide as the unit count, their Spark jobs
overlap in the one ``SparkContext``. Each unit runs under the caller's job
group, description and local properties. A stage returns only when every
unit has finished; if any failed, it then raises the first failure in unit
order. Within a unit the order is unchanged (a table's watermark advances
only after its write), so a failed unit replays on the next run like a
failed serial run would.

Each unit runs one path whatever its input: an empty change set is
written like any other (a CDC directory with no data files), and an empty
full-image source empties its silver image. The reference short-circuits
on empty input (:134); here that would leave silver's full image, and the
marts built on it, holding rows the source has deleted.

Deliberate improvements over the reference (each flagged in SURVEY.md):
- the bronze frame is cached -- the reference recomputes it for each of
  its 3 sinks (:84,111,112);
- watermarks observed on the zone write (``DataFrame.observe``) instead of
  a second ``agg(max)`` scan of the written frame (:146);
- diff on business columns only (the reference's full-row subtract compares
  the per-run ingestion timestamps it just added, misclassifying every row
  every run -- O1);
- deterministic keyed dedup (keep latest by event time) instead of
  ``dropDuplicates(keys)``'s arbitrary row (P12);
- injectable clock instead of wall-clock ``datetime.now()``/
  ``current_timestamp()`` (F3).

Silver's dated tables (order_items, date_dim, order_revenue) are
partitioned by ``CREATION_MONTH``, the first day of the event month as a
DATE, and keep ``CREATION_DATE`` as a DATE column in the files. The
reference partitions by event day (:141), so a table holds one directory
per day, and every rewrite and every read pays a fixed cost per
directory; on a month grain the directory count grows with months. Spark's
partition discovery refuses a table that mixes ``CREATION_DATE=`` and
``CREATION_MONTH=`` directories, so a run refuses to start while a dated
silver table still holds the day grain; rewriting that table on the month
grain (same rows, so its watermark stays valid) lets the next run go on.
Gold's ``fact_ltv_daily`` and the CDC log keep their layouts.

Scale notes (100 TB): every zone write goes through
``write_parquet(partition_by=...)`` so downstream reads prune partitions;
the CDC diff shuffles only primary keys + changed rows (operators.cdc);
nothing reaches the driver except the observed watermark values.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial
from typing import TypeVar

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType
from pyspark.util import inheritable_thread_target

from .operators.cdc import CDC_ACTION, CDC_TS, cdc_diff, tag_appends
from .operators.incremental import advance_watermark, incremental_read
from .operators.relational import keep_latest
from .session import Clock
from .sources import MedallionLayout, child_names, path_exists, read_parquet, write_parquet
from .state import WatermarkStore

T = TypeVar("T")

# The silver tables order_revenue and the gold marts are built from.
ITEMS_TABLE = "order_items"
OPTIONS_TABLE = "order_item_options"

# Silver's dated tables keep the event date as a DATE column and are
# partitioned by its month (the first of the month, also a DATE).
DATE_COL = "CREATION_DATE"
MONTH_COL = "CREATION_MONTH"


@dataclass(frozen=True)
class TableSpec:
    """One source table (reference: TABLES_CONFIG, scripts/cdc_metrics_job.py:42-46)."""

    name: str
    pks: list[str]
    ts_col: str | None = None          # watermark column -> append-only CDC (C3)
    event_date_col: str | None = None  # silver partition/date column source
    casts: dict[str, str] = field(default_factory=dict)


# The reference's TABLES_CONFIG (scripts/cdc_metrics_job.py:41-46) expressed
# as specs. date_dim goes through the same generic silver conform
# (CREATION_DATE = to_date(date_key), strictly-greater watermark filter,
# dedup on date_key, append partitioned by CREATION_MONTH, watermark advanced
# to max processed date) that the reference hand-writes as its own
# process_silver_date_dim variant (:194-215).
REFERENCE_TABLES: list[TableSpec] = [
    TableSpec(
        name="order_items",
        pks=["ORDER_ID", "LINEITEM_ID"],
        ts_col="CREATION_TIME_UTC",
        event_date_col="CREATION_TIME_UTC",
        casts={"ITEM_PRICE": "double"},
    ),
    TableSpec(
        name="order_item_options",
        pks=["ORDER_ID", "LINEITEM_ID", "OPTION_NAME"],
        casts={"OPTION_PRICE": "double"},
    ),
    TableSpec(
        name="date_dim",
        pks=["date_key"],
        event_date_col="date_key",
    ),
]


@dataclass
class CdcPipeline:
    spark: SparkSession
    layout: MedallionLayout
    store: WatermarkStore
    clock: Clock
    tables: list[TableSpec]

    def _fan_out(self, units: list[Callable[[], T]]) -> list[T]:
        """Run ``units`` concurrently, one thread each, under the caller's
        job group, description and local properties. Waits for every unit,
        then returns their results in unit order, or re-raises the first
        failure in unit order."""
        with ThreadPoolExecutor(max_workers=max(len(units), 1)) as pool:
            futures = [pool.submit(inheritable_thread_target(self.spark)(unit)) for unit in units]
        return [f.result() for f in futures]

    # ---- bronze -----------------------------------------------------------

    def run_bronze(self, read_source: Callable[[str], DataFrame]) -> dict[str, DataFrame]:
        """Extract + CDC per table, the tables concurrently; returns the
        tagged change sets."""
        self._refuse_day_grain_silver()
        run_date = self.clock.today_str
        now = self.clock.now.strftime("%Y-%m-%d %H:%M:%S")
        changes = self._fan_out(
            [partial(self._bronze_table, spec, read_source, run_date, now) for spec in self.tables]
        )
        return {spec.name: delta for spec, delta in zip(self.tables, changes)}

    def _bronze_table(
        self, spec: TableSpec, read_source: Callable[[str], DataFrame], run_date: str, now: str
    ) -> DataFrame:
        src = read_source(spec.name).dropDuplicates()
        if spec.ts_col is not None:
            src = incremental_read(src, spec.ts_col, self.store, f"bronze/{spec.name}", inclusive=True)
        cur = src.withColumn("ingestion_timestamp", F.lit(now).cast("timestamp")).cache()
        mark = _write_noting_max(cur, spec.ts_col, self.layout.bronze(spec.name, run_date), mode="overwrite")

        if spec.ts_col is not None:
            delta = tag_appends(cur, now)
        else:
            snap_path = self.layout.snapshot(spec.name)
            # Cold start is a path probe, not a broad except: a transient
            # read failure must fail the run, or the diff would tag every
            # row 'insert' and corrupt the durable CDC log (S8, :95). The
            # snapshot is always written from this image, so the read
            # passes its schema and runs no inference job.
            image = cur.drop("ingestion_timestamp").schema
            if path_exists(self.spark, snap_path):
                prev = read_parquet(self.spark, snap_path, schema=image)
            else:
                prev = self.spark.createDataFrame([], image)
            delta = cdc_diff(cur, prev, pks=spec.pks).withColumn(
                CDC_TS, F.lit(now).cast("timestamp")
            )
        # the log's schema as a read infers it: the data columns, then the
        # partition column; passing it spares the inference job, and makes
        # an empty change set (a directory with no data files) readable
        logged = StructType(
            [StructField(f.name, f.dataType) for f in delta.schema if f.name != CDC_ACTION]
            + [StructField(CDC_ACTION, StringType())]
        )
        cdc_path = self.layout.cdc(spec.name, run_date)
        write_parquet(delta, cdc_path, mode="append", partition_by=[CDC_ACTION])
        # refresh snapshot AFTER the log write (at-least-once, :111-112)
        if spec.ts_col is None:
            write_parquet(
                cur.drop("ingestion_timestamp"), self.layout.snapshot(spec.name), mode="overwrite"
            )
        else:
            advance_watermark(self.store, f"bronze/{spec.name}", mark)
        cur.unpersist()
        # Return the change set re-read from the durable log: the diff's
        # lineage reads the snapshot path, which the overwrite above just
        # invalidated (Spark refreshes caches on path writes), so the
        # in-memory frame must not be handed out.
        return read_parquet(self.spark, cdc_path, schema=logged)

    # ---- silver -----------------------------------------------------------

    def run_silver(self) -> None:
        """Conform bronze -> silver per table, the tables concurrently."""
        self._refuse_day_grain_silver()
        run_date = self.clock.today_str
        self._fan_out([partial(self._silver_table, spec, run_date) for spec in self.tables])

    def _refuse_day_grain_silver(self) -> None:
        """Raise, before the run writes anything, when a dated silver table
        still holds the day grain's ``CREATION_DATE=`` directories. Month
        directories appended next to them would make the table unreadable
        (Spark's partition discovery refuses mixed partition columns), and
        the failure would surface only after the table's watermark had
        moved past the appended rows."""
        for spec in self.tables:
            if spec.event_date_col is None:
                continue
            path = self.layout.silver(spec.name)
            if any(name.startswith(f"{DATE_COL}=") for name in child_names(self.spark, path)):
                raise RuntimeError(
                    f"{path} is partitioned by {DATE_COL} (the day grain); silver's dated tables "
                    f"are partitioned by {MONTH_COL}. Rewrite the table on the month grain before "
                    f"running: read it, add {MONTH_COL} = trunc({DATE_COL}, 'month'), write it to a "
                    f"new directory partitioned by {MONTH_COL} and swap that in. Its rows do not "
                    f"change, so its watermark stays valid."
                )

    def _silver_table(self, spec: TableSpec, run_date: str) -> None:
        df = read_parquet(self.spark, self.layout.bronze(spec.name, run_date))
        date_col = None
        if spec.event_date_col is not None:
            date_col = DATE_COL
            df = df.withColumn(date_col, F.to_date(spec.event_date_col))
            wm = self.store.get(f"silver/{spec.name}")
            df = df.filter(F.col(date_col) > F.lit(wm).cast("date"))
        for col, typ in spec.casts.items():
            df = df.withColumn(col, F.col(col).cast(typ))
        order = [F.col(spec.ts_col).desc()] if spec.ts_col else []
        df = keep_latest(df, spec.pks, order, tiebreakers=spec.pks)
        # Dated tables accrete by event date into month partitions;
        # snapshot-diff tables conform the full current image, so overwrite.
        mark = _write_noting_max(
            _with_month(df) if date_col else df,
            date_col,
            self.layout.silver(spec.name),
            mode="append" if date_col else "overwrite",
            partition_by=[MONTH_COL] if date_col else None,
        )
        if date_col is not None:
            advance_watermark(self.store, f"silver/{spec.name}", mark)

    def build_order_revenue(self) -> DataFrame:
        from .plans.marts import build_order_revenue

        items = read_parquet(self.spark, self.layout.silver(ITEMS_TABLE))
        options = read_parquet(self.spark, self.layout.silver(OPTIONS_TABLE))
        revenue = _with_month(build_order_revenue(items, options))
        write_parquet(
            revenue,
            self.layout.silver("order_revenue"),
            mode="overwrite",
            partition_by=[MONTH_COL],
        )
        return revenue

    # ---- gold -------------------------------------------------------------

    def run_gold(self) -> None:
        """All marts from silver, overwritten (SURVEY.md §2.10), the marts
        concurrently."""
        from .plans import marts

        revenue = read_parquet(self.spark, self.layout.silver("order_revenue")).cache()
        # Fill the cache before the fan-out: concurrent writers would
        # otherwise race to compute its still-empty partitions, each
        # building revenue again (see plans.adapters._memoized).
        revenue.count()
        items = read_parquet(self.spark, self.layout.silver(ITEMS_TABLE))
        options = read_parquet(self.spark, self.layout.silver(OPTIONS_TABLE))
        now = self.clock.today_str

        # mart -> builder; each unit builds its mart's plan itself, so a
        # builder that raises fails only its own unit
        builders: dict[str, Callable[[], DataFrame]] = {
            "fact_ltv_daily": lambda: marts.fact_ltv_daily(revenue),
            "mart_customer_ltv_snapshot": lambda: marts.ltv_snapshot(revenue),
            "mart_customer_clv_segment": lambda: marts.clv_segment(marts.ltv_snapshot(revenue)),
            "mart_customer_rfm": lambda: marts.rfm(revenue, now),
            "mart_customer_churn_profile": lambda: marts.churn_profile(revenue, now),
            **{
                f"mart_sales_trends_{grain}": partial(marts.sales_trends, revenue, grain)
                for grain in ("daily", "weekly", "monthly", "hourly")
            },
            "mart_loyalty_program_impact": lambda: marts.loyalty_impact(items, revenue),
            "mart_location_performance": lambda: marts.location_performance(items, revenue),
            "mart_discount_effectiveness": lambda: marts.discount_effectiveness(items, options, revenue),
        }

        def write(mart: str, build: Callable[[], DataFrame]) -> None:
            partition_by = ["CREATION_DATE"] if mart == "fact_ltv_daily" else None
            write_parquet(build(), self.layout.gold(mart), partition_by=partition_by)

        try:
            self._fan_out([partial(write, mart, build) for mart, build in builders.items()])
        finally:
            revenue.unpersist()

    def run_all(self, read_source: Callable[[str], DataFrame]) -> None:
        self.run_bronze(read_source)
        self.run_silver()
        self.build_order_revenue()
        self.run_gold()


def _with_month(df: DataFrame) -> DataFrame:
    return df.withColumn(MONTH_COL, F.trunc(DATE_COL, "month"))


def _write_noting_max(df: DataFrame, col: str | None, path: str, **kwargs) -> object:
    """``write_parquet``, returning ``max(col)`` over the rows written
    (None when ``col`` is None or no row was written). The value is
    observed on the write itself, so it costs no second scan."""
    if col is None:
        write_parquet(df, path, **kwargs)
        return None
    seen = Observation()
    write_parquet(df.observe(seen, F.max(col).alias("m")), path, **kwargs)
    # only once the write has returned: get blocks until its action reports
    return seen.get["m"]
