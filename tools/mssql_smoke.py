"""Live SQL Server smoke test for the S1/S2 ingest paths.

The engine's JDBC surface (sources/jdbc.py: sqlserver_url, sqlserver_read,
incremental_query) mirrors the reference's Glue->SQL Server ingest
(scripts/cdc_metrics_job.py:57-76) and is pinned by tests against embedded
Derby, but no SQL Server instance exists in the build environment. This
script is the runnable proof for when one does: point it at a live server
and it exercises BOTH reference paths end-to-end --

1. full scan  (``dbtable``; Glue's default three-table read), and
2. incremental watermark pushdown (``customSql`` -> ``query`` via
   incremental_query, the S2 high-watermark contract) -- asserting the
   pushdown returns a subset of the full scan with every timestamp at or
   above the watermark.

Usage (all config via environment, credentials never on argv):

    export MSSQL_HOST=myserver.example.com          # required
    export MSSQL_PORT=1433                          # optional
    export MSSQL_DATABASE=mydb                      # optional
    export MSSQL_USER=...  MSSQL_PASSWORD=...       # optional (else integrated)
    export MSSQL_TABLE=dbo.orders                   # required
    export MSSQL_TS_COL=last_update_time            # required for path 2
    export MSSQL_WATERMARK='2024-01-01 00:00:00'    # optional (default: epoch)
    export MSSQL_JDBC_JAR=/path/to/mssql-jdbc-*.jar # required (driver jar)

    python tools/mssql_smoke.py

Exits 0 with a PASS line per path, non-zero with the failing assertion.
Skips (exit 0, "SKIP") when MSSQL_HOST is unset, so CI can run it
unconditionally. The CI-side twin is tests/test_jdbc_integration.py's
Derby suite; this script is intentionally NOT a pytest so that it can be
run against production instances without dragging the test session in.
"""

from __future__ import annotations

import os
import sys


def main() -> int:
    host = os.environ.get("MSSQL_HOST")
    if not host:
        print("SKIP  no MSSQL_HOST in the environment; nothing to smoke")
        return 0
    table = os.environ.get("MSSQL_TABLE")
    jar = os.environ.get("MSSQL_JDBC_JAR")
    if not table or not jar:
        print("FAIL  MSSQL_TABLE and MSSQL_JDBC_JAR are required", file=sys.stderr)
        return 2

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import SparkSession

    from aws_glue_cdc_metrics_job_spark.sources.jdbc import (
        incremental_query,
        sqlserver_read,
    )

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("mssql-smoke")
        .config("spark.jars", jar)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    kw = dict(
        port=int(os.environ.get("MSSQL_PORT", "1433")),
        database=os.environ.get("MSSQL_DATABASE"),
        user=os.environ.get("MSSQL_USER"),
        password=os.environ.get("MSSQL_PASSWORD"),
    )

    # Path 1: full scan (S1)
    full = sqlserver_read(spark, host, table=table, **kw)
    n_full = full.count()
    print(f"PASS  full scan: {n_full} rows, {len(full.columns)} columns")

    # Path 2: incremental watermark pushdown (S2)
    ts_col = os.environ.get("MSSQL_TS_COL")
    if not ts_col:
        print("SKIP  no MSSQL_TS_COL; watermark path not exercised")
        return 0
    watermark = os.environ.get("MSSQL_WATERMARK", "1970-01-01 00:00:00")
    inc = sqlserver_read(
        spark, host, query=incremental_query(table, ts_col, watermark), **kw
    )
    n_inc = inc.count()
    if n_inc > n_full:
        print(f"FAIL  incremental ({n_inc}) exceeds full scan ({n_full})", file=sys.stderr)
        return 1
    from pyspark.sql import functions as F

    below = inc.filter(F.col(ts_col) < F.lit(watermark)).count()
    if below:
        print(f"FAIL  {below} rows below watermark {watermark!r}", file=sys.stderr)
        return 1
    print(f"PASS  incremental pushdown: {n_inc}/{n_full} rows >= {watermark!r}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
