"""spark-submit-able CLI for the engine -- the runnable-job surface the
reference ships as three Glue scripts (scripts/cdc_metrics_job_*.py,
sequenced by .github/workflows/deploy-glue-job.yml) collapsed into one
entry point with explicit stages:

  python -m aws_glue_cdc_metrics_job_spark pipeline --zones /data/zones \\
      --sf-dir /root/testdata/sf0.001 [--stage bronze|silver|gold|all]
  python -m aws_glue_cdc_metrics_job_spark query fact_ltv_daily \\
      --sf-dir /root/testdata/sf0.001 [--limit 20] [--out /tmp/result]
  python -m aws_glue_cdc_metrics_job_spark list

The pipeline command drives the full medallion build (bronze CDC -> silver
conform -> order_revenue -> gold marts) with the TPC-H-shaped testdata
mapped onto the reference's business schema by plans/adapters.py; `query`
runs any graded catalog query and prints or writes the result.
"""

from __future__ import annotations

import argparse
import sys


def _spark(app: str):
    from .session import get_spark

    return get_spark(app_name=app)


def cmd_list(_args) -> int:
    from .plans import catalog

    catalog.load_all()
    for name in catalog.ordered_queries():
        marker = "oracle" if name in catalog.ORACLE else "rows-only"
        print(f"{name}\t{marker}")
    return 0


def cmd_query(args) -> int:
    from .plans import catalog

    catalog.load_all()
    if args.name not in catalog.QUERIES:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    spark = _spark(f"query-{args.name}")
    df = catalog.QUERIES[args.name](spark, args.sf_dir)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        df.show(args.limit, truncate=False)
    return 0


def cmd_pipeline(args) -> int:
    from pyspark.sql import functions as F

    from .pipeline import REFERENCE_TABLES, CdcPipeline
    from .session import Clock
    from .plans import adapters
    from .sources.parquet_io import MedallionLayout
    from .state import WatermarkStore

    spark = _spark("cdc-pipeline")
    layout = MedallionLayout(args.zones)
    # epoch-early default watermark: the TPC-H-shaped testdata carries
    # 1992-1998 event dates, far before the reference's 2020 cold-start
    # default (scripts/cdc_metrics_job.py:36)
    store = WatermarkStore(f"{args.zones}/state.json", default="1900-01-01")
    from datetime import datetime

    clock = Clock.fixed(args.run_ts) if args.run_ts else Clock(datetime.now())
    p = CdcPipeline(spark=spark, layout=layout, store=store, clock=clock, tables=REFERENCE_TABLES)

    def read_source(name: str):
        if name == "order_items":
            return adapters.order_items(spark, args.sf_dir).withColumn(
                "CREATION_TIME_UTC", F.col("CREATION_TIME_UTC").cast("timestamp")
            )
        if name == "order_item_options":
            return adapters.order_item_options(spark, args.sf_dir)
        if name == "date_dim":
            return (
                adapters.order_items(spark, args.sf_dir)
                .select(F.col("CREATION_TIME_UTC").cast("date").alias("date_key"))
                .dropDuplicates()
            )
        raise ValueError(f"no source mapping for table {name!r}")

    stage = args.stage
    if stage == "all":
        p.run_all(read_source)
    elif stage == "bronze":
        p.run_bronze(read_source)
    elif stage == "silver":
        p.run_silver()
        p.build_order_revenue()
    else:
        p.run_gold()
    print(f"pipeline stage={stage} complete under {args.zones}")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="aws_glue_cdc_metrics_job_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list graded catalog queries")

    q = sub.add_parser("query", help="run one catalog query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--limit", type=int, default=20)
    q.add_argument("--out", help="write parquet here instead of printing")

    pl = sub.add_parser("pipeline", help="run the medallion pipeline")
    pl.add_argument("--zones", required=True, help="root dir for bronze/cdc/snapshots/silver/gold")
    pl.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pl.add_argument("--stage", choices=["bronze", "silver", "gold", "all"], default="all")
    pl.add_argument("--run-ts", help="fixed clock 'YYYY-mm-dd HH:MM:SS' for reproducible runs")

    args = ap.parse_args(argv)
    return {"list": cmd_list, "query": cmd_query, "pipeline": cmd_pipeline}[args.cmd](args)


if __name__ == "__main__":
    raise SystemExit(main())
