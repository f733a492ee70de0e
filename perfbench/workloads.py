"""The benchmark's workloads. Each drives only the engine's public entry
points (``CdcPipeline``, ``sources``, ``bi``, ``catalog.QUERIES``), one client
in a closed loop, and returns its end-to-end figures, its correctness checks
and the context the traced run turns into per-layer metrics."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import duckdb
import numpy as np

from aws_glue_cdc_metrics_job_spark import bi, pipeline
from aws_glue_cdc_metrics_job_spark.pipeline import REFERENCE_TABLES, CdcPipeline
from aws_glue_cdc_metrics_job_spark.plans import adapters, catalog
from aws_glue_cdc_metrics_job_spark.session import Clock
from aws_glue_cdc_metrics_job_spark.sources import MedallionLayout
from aws_glue_cdc_metrics_job_spark.state import WatermarkStore
from tools.oracle_check import canon_rows, duckdb_run

from gen import Medallion, catalog_dir
from spans import dirs_under, parquet_files

catalog.load_all()

# medallion_daily: a 30-ship-day window of a make_testdata scale-10 data set
# (about 700 order lines), then one new ship day per timed cycle.
MEDALLION_SCALE = 10
WINDOW_DAYS = 30
MAX_DAYS = 40
RANGE_READS = 2
RANGE_DAYS = 10

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

# one dashboard tab per builder: (tab, gold mart, builder)
TABS = [
    ("clv", "mart_customer_clv_segment", bi.clv_kpis),
    ("rfm", "mart_customer_rfm", bi.rfm_segment_summary),
    ("churn", "mart_customer_churn_profile", bi.churn_kpis),
    ("trends", "mart_sales_trends_daily", bi.daily_revenue_series),
    ("loyalty", "mart_loyalty_program_impact", bi.loyalty_labeled),
    ("location", "mart_location_performance", bi.location_top),
    ("discount", "mart_discount_effectiveness", bi.discount_labeled),
]

ZONES = ("bronze", "cdc", "snapshots", "silver", "gold")
STAGES = ("bronze", "silver", "order_revenue", "gold")
STAGE_METHODS = {
    "bronze": "run_bronze",
    "silver": "run_silver",
    "order_revenue": "build_order_revenue",
    "gold": "run_gold",
}

# catalog_mix: the whole make_testdata scale-1 data set.
CATALOG_SCALE = 1
MART_QUERIES = ["fact_ltv_daily", "mart_customer_rfm", "cdc_apply_changes"]
GRAPH_QUERIES = ["supply_pagerank_directed"]
FAMILY = {**{q: "plans.marts" for q in MART_QUERIES}, **{q: "operators.graph" for q in GRAPH_QUERIES}}
# each query's latency is the median of at least this many timed passes;
# a fixed count, not just a deadline, since passes keep getting faster as
# the JIT compiles, so a run that fits more passes would read faster
MIN_PASSES = 2


@dataclass
class Outcome:
    setup_s: float = 0.0
    ops_s: list[float] = field(default_factory=list)
    op_names: list[str] = field(default_factory=list)
    cycles_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    gen_s: float = 0.0
    cdc_rows: dict[str, int] = field(default_factory=lambda: {"insert": 0, "update": 0, "delete": 0})
    zone_files: int = 0
    samples: dict[str, int] = field(default_factory=dict)
    reads_s: list[float] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


def oracle_mismatch(sf_dir: str, name: str, cols: list[str], rows) -> str | None:
    """None when ``rows`` equal the catalog oracle's result on ``sf_dir``."""
    dcols, drows, _ = duckdb_run(sf_dir, catalog.ORACLE[name])
    if sorted(cols) != sorted(dcols):
        return f"{name}: columns {sorted(cols)} != oracle {sorted(dcols)}"
    if len(rows) != len(drows):
        return f"{name}: {len(rows)} rows != oracle {len(drows)}"
    if canon_rows(cols, rows) != canon_rows(dcols, drows):
        return f"{name}: values differ from the oracle"
    return None


def _read_zone(path: str):
    con = duckdb.connect()
    res = con.execute(
        f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
    )
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    con.close()
    return cols, rows


def cdc_log_counts(zones: str) -> dict[str, dict[str, int]]:
    """Rows per table and action in the CDC log, read with DuckDB."""
    out: dict[str, dict[str, int]] = {}
    con = duckdb.connect()
    for spec in REFERENCE_TABLES:
        path = f"{zones}/cdc/{spec.name}"
        counts = dict.fromkeys(("insert", "update", "delete"), 0)
        if parquet_files(path):
            counts.update(
                con.execute(
                    f"SELECT cdc_action, count(*) FROM read_parquet('{path}/**/*.parquet',"
                    " hive_partitioning = true) GROUP BY 1"
                ).fetchall()
            )
        out[spec.name] = counts
    con.close()
    return out


def _trace_pipeline(tr, p: CdcPipeline, zones: str) -> None:
    """Spans around the pipeline's stage methods and the sources,
    watermark and state bindings the pipeline calls."""
    for stage, method in STAGE_METHODS.items():
        tr.wrap(p, method, f"pipeline.{stage}")

    def write_probe(args, kwargs):
        path = args[1] if len(args) > 1 else kwargs["path"]
        before, before_dirs = parquet_files(path), dirs_under(path)

        def finish(sp):
            after = parquet_files(path)
            new = [f for f in after if f not in before]
            sp.attrs.update(
                zone=os.path.relpath(path, zones).split(os.sep)[0],
                files=len(new),
                dirs=len(dirs_under(path) - before_dirs),
                bytes=sum(after[f] for f in new),
            )

        return finish

    tr.wrap(pipeline, "write_parquet", "sources.write", write_probe)
    tr.wrap(pipeline, "read_parquet", "sources.read", _read_probe)
    tr.wrap(bi, "load_mart", "sources.read", _read_probe)
    tr.wrap(pipeline, "advance_watermark", "incremental.advance_watermark")
    for method in ("get", "set", "advance"):
        tr.wrap(p.store, method, "state")


def _read_probe(args, kwargs):
    path = args[1] if len(args) > 1 else kwargs["path"]
    listed = len(parquet_files(path))

    def finish(sp):
        sp.attrs["files_listed"] = listed

    return finish


def medallion_daily(spark, tr, work: str, seed: int, seconds: float, t_start: float) -> Outcome:
    out = Outcome()
    rng = np.random.default_rng(seed + 1)
    t = time.perf_counter()
    src = Medallion(os.path.join(work, "inputs"), seed, MEDALLION_SCALE, WINDOW_DAYS, MAX_DAYS)
    out.gen_s = time.perf_counter() - t

    zones = os.path.join(work, "zones")
    layout = MedallionLayout(zones)
    # an early default watermark: the order history predates the
    # reference's 2020 cold-start default
    store = WatermarkStore(os.path.join(zones, "state.json"), default="1900-01-01")
    now = datetime.fromisoformat(f"{adapters.NOW_ORDERS} 00:00:00")
    p = CdcPipeline(spark=spark, layout=layout, store=store, clock=Clock(now), tables=REFERENCE_TABLES)
    _trace_pipeline(tr, p, zones)

    def read_source(name: str):
        from pyspark.sql import functions as F

        items = adapters.order_items(spark, src.dir)
        if name == "order_items":
            return items.withColumn("CREATION_TIME_UTC", F.col("CREATION_TIME_UTC").cast("timestamp"))
        if name == "order_item_options":
            return adapters.order_item_options(spark, src.dir)
        if name == "date_dim":
            return items.select(F.col("CREATION_TIME_UTC").cast("date").alias("date_key")).dropDuplicates()
        raise ValueError(f"no source mapping for table {name!r}")

    logged = cdc_log_counts(zones)

    def run_pipeline(run: int, kind: str) -> float:
        nonlocal logged
        # the date stays NOW_ORDERS (the marts' 'today'); the minute makes
        # each run's CDC timestamp distinct
        p.clock = Clock(now + timedelta(minutes=run))
        t0 = time.perf_counter()
        with tr.span(f"pipeline.{kind}"):
            p.run_all(read_source)
        took = time.perf_counter() - t0
        counts = cdc_log_counts(zones)
        for table, expected in src.expected.items():
            got = {a: counts[table][a] - logged[table][a] for a in expected}
            out.check(got == expected, f"run {run} {table}: CDC log {got} != generator {expected}")
            if kind == "daily":
                for a in got:
                    out.cdc_rows[a] += got[a]
        logged = counts
        return took

    def check_gold(when: str) -> None:
        for mart in GOLD_MARTS:
            cols, rows = _read_zone(layout.gold(mart))
            problem = oracle_mismatch(src.dir, mart, cols, rows)
            out.check(problem is None, f"{when}: {problem}")

    def refresh_dashboard() -> list[float]:
        lat = []
        for tab, mart, build in TABS:
            t0 = time.perf_counter()
            with tr.span(f"bi.{tab}"):
                pdf = bi.to_pandas(build(bi.load_mart(spark, layout.gold(mart))))
            lat.append(time.perf_counter() - t0)
            out.check(len(pdf) > 0, f"dashboard tab {tab} is empty")
        days = sorted(os.listdir(layout.gold("fact_ltv_daily")))
        days = [d.split("=", 1)[1] for d in days if d.startswith("CREATION_DATE=")]
        for _ in range(RANGE_READS):
            lo = days[int(rng.integers(0, len(days) - RANGE_DAYS))]
            hi = days[days.index(lo) + RANGE_DAYS - 1]
            t0 = time.perf_counter()
            with tr.span("bi.ltv_range"):
                ltv = bi.load_mart(spark, layout.gold("fact_ltv_daily"))
                pdf = bi.to_pandas(ltv.where(ltv.CREATION_DATE.between(lo, hi)))
            lat.append(time.perf_counter() - t0)
            con = duckdb.connect()
            want = con.execute(
                f"SELECT count(*) FROM read_parquet('{layout.gold('fact_ltv_daily')}/**/*.parquet',"
                f" hive_partitioning = true) WHERE CREATION_DATE BETWEEN '{lo}' AND '{hi}'"
            ).fetchone()[0]
            con.close()
            out.check(len(pdf) == want, f"ltv range {lo}..{hi}: {len(pdf)} rows != {want}")
        return lat

    # set-up: the cold build in a fresh JVM, as a nightly job starts
    run_pipeline(0, "cold")
    out.setup_s = time.perf_counter() - t_start
    check_gold("after the cold build")

    deadline = time.perf_counter() + seconds
    while True:
        src.next_day()
        op = run_pipeline(src.day, "daily")
        lat = refresh_dashboard()
        out.ops_s.append(op)
        out.op_names.append("daily_run")
        out.cycles_s.append(op + sum(lat))
        out.reads_s += lat
        if time.perf_counter() >= deadline:
            break
    check_gold(f"after day {src.day}")
    out.zone_files = len(parquet_files(zones))
    out.samples = {"pipeline_runs": len(out.ops_s), "dashboard_reads": len(out.reads_s)}
    return out


def catalog_mix(spark, tr, work: str, seed: int, seconds: float, t_start: float) -> Outcome:
    out = Outcome()
    t = time.perf_counter()
    sf_dir = catalog_dir(os.path.join(work, "inputs"), seed, CATALOG_SCALE)
    out.gen_s = time.perf_counter() - t
    # a fixed order: the seed varies the data, not which query warms which
    order = list(FAMILY)

    # warm-up pass: every query collected once and hash-checked against its
    # oracle; the oracle's own time is kept out of set-up
    oracle_s = 0.0
    with tr.span("catalog.warmup"):
        for name in order:
            df = catalog.QUERIES[name](spark, sf_dir)
            rows = [[r[c] for c in df.columns] for r in df.collect()]
            t0 = time.perf_counter()
            problem = oracle_mismatch(sf_dir, name, df.columns, rows)
            oracle_s += time.perf_counter() - t0
            out.check(problem is None, str(problem))
    out.setup_s = time.perf_counter() - t_start - oracle_s

    deadline = time.perf_counter() + seconds
    while True:
        t_pass = time.perf_counter()
        with tr.span("catalog.pass"):
            for name in order:
                t0 = time.perf_counter()
                with tr.span(f"query.{name}"):
                    with tr.span(f"{FAMILY[name]}.build"):
                        df = catalog.QUERIES[name](spark, sf_dir)
                    with tr.span(f"{FAMILY[name]}.exec"):
                        df.write.mode("overwrite").format("noop").save()
                out.ops_s.append(time.perf_counter() - t0)
                out.op_names.append(name)
                out.attempted += 1
        out.cycles_s.append(time.perf_counter() - t_pass)
        if len(out.cycles_s) >= MIN_PASSES and time.perf_counter() >= deadline:
            break
    out.samples = {"queries": len(out.ops_s), "passes": len(out.cycles_s)}
    return out


WORKLOADS = {"medallion_daily": medallion_daily, "catalog_mix": catalog_mix}
