"""Driver-mimicking correctness gate: run every catalog query in Spark and
its oracle in DuckDB over the same parquet, compare row count + column names
+ order-insensitive canonicalized values.

Usage: python tools/oracle_check.py [--vanilla] [sf_dir] [query ...]

--vanilla builds a bare SparkSession (like the driver's harness) instead of
the engine's get_spark, so session-dependent bugs (e.g. a missing
nanosAsLong setting) surface here instead of in a grading run.
"""

from __future__ import annotations

import math
import sys
import time
from datetime import date, datetime

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def canon_cell(v) -> str:
    # Full-precision canonicalization, matching the driver's hash strength:
    # floats use exact repr (17 significant digits), so a last-ulp
    # cross-engine difference FAILS here before it ships. A 9-digit
    # rounding here once let an events_type_skew_report mismatch through.
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bool):
        return str(bool(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            # Decimals are exact -- compare them exactly. When the value
            # round-trips through float unchanged, keep the float repr
            # (so a decimal on one engine still matches a double on the
            # other, as before); otherwise emit the exact fixed-point
            # string. Two DISTINCT decimals can never share a canon form:
            # at most one of them equals the shared float image exactly
            # (repr(float(v)) alone collapsed differences past ~17
            # significant digits -- a false local PASS vs the driver's
            # exact hash).
            try:
                f = float(v)
                if decimal.Decimal(repr(f)) == v:
                    return repr(f)
            except (OverflowError, ValueError):
                pass
            return format(v.normalize(), "f")
    except ImportError:
        pass
    return str(v)


def canon_rows(cols: list[str], rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = ["|".join(canon_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def duckdb_run(sf_dir: str, sql: str):
    """Run the oracle and return (cols, rows, fetch_path_divergences).

    Fetches the result through BOTH DuckDB client paths -- fetchall()
    (exact Python objects) and fetchdf() (pandas/Arrow, the path the
    driver's hash goes through) -- and flags any null-free column whose
    values are integers via fetchall but a floating dtype via pandas.
    The mechanism: SUM() types as HUGEINT,
    `//` propagates it, fetchall renders `13020` while the pandas path
    renders `13020.0`, so the local gate passes and the graded hash
    fails. Fix on flag: CAST the oracle output
    column (e.g. `CAST(... AS BIGINT)`).
    """
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    divergences = []
    try:
        df = con.execute(sql).fetchdf()
        for j, c in enumerate(cols):
            vals = [r[j] for r in rows]
            if not vals or any(v is None for v in vals):
                continue
            if all(isinstance(v, int) and not isinstance(v, bool) for v in vals):
                dtype = df.iloc[:, j].dtype
                if str(dtype).startswith("float"):
                    divergences.append(
                        f"column {c!r} is all-int via fetchall but {dtype} via the "
                        f"pandas fetch path (driver hash path) -- CAST it in the oracle"
                    )
    except Exception as ex:  # noqa: BLE001 - divergence check is best-effort
        divergences.append(f"fetchdf divergence check errored: {ex}")
    return cols, rows, divergences


def session_alive(spark) -> bool:
    """One cheap call into the session's JVM. False when the JVM is gone (the
    py4j gateway refuses the connection) or its SparkContext has stopped."""
    from py4j.protocol import Py4JError

    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except (Py4JError, OSError):
        return False


def check_all(spark, sf_dir: str, qs: dict, oracles: dict, only: set[str]) -> int:
    """Run every selected query in Spark and its oracle in DuckDB, print one
    line per query and a summary; 0 iff nothing failed. A Spark error after
    which the session's JVM is gone stops the run: every later query would
    fail the same way, for the crash and not for a wrong answer."""
    names = [n for n in sorted(qs) if not only or n in only]
    failed, passed, skipped = [], [], []

    for i, name in enumerate(names):
        fn = qs[name]
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as ex:  # noqa: BLE001
            if not session_alive(spark):
                print(
                    f"ABORT {name}: the Spark JVM is gone ({str(ex)[:200]});"
                    f" {len(names) - i - 1} queries not run",
                    flush=True,
                )
                return 1
            failed.append((name, f"SPARK ERROR: {ex}"))
            print(f"FAIL  {name}: spark error: {str(ex)[:500]}", flush=True)
            continue
        el = time.monotonic() - t0
        if name not in oracles:
            skipped.append(name)
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{el:.1f}s]", flush=True)
            continue
        try:
            dcols, drows, divergences = duckdb_run(sf_dir, oracles[name])
        except Exception as ex:  # noqa: BLE001
            failed.append((name, f"DUCKDB ERROR: {ex}"))
            print(f"FAIL  {name}: duckdb error: {str(ex)[:500]}")
            continue
        problems = list(divergences)
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns differ: spark={sorted(scols)} duckdb={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount differs: spark={len(srows)} duckdb={len(drows)}")
        if not problems:
            sc = canon_rows(scols, [[r[c] for c in scols] for r in srows])
            dc = canon_rows(dcols, drows)
            if sc != dc:
                diffs = [(a, b) for a, b in zip(sc, dc) if a != b]
                problems.append(
                    f"values differ in {len(diffs)}/{len(sc)} rows; first: spark={diffs[0][0][:200]!r} duckdb={diffs[0][1][:200]!r}"
                )
        if problems:
            failed.append((name, "; ".join(problems)))
            print(f"FAIL  {name}: {'; '.join(problems)[:600]}", flush=True)
        else:
            passed.append(name)
            print(f"OK    {name}: {len(srows)} rows [{el:.1f}s]", flush=True)

    print(f"\n{len(passed)} passed, {len(failed)} failed, {len(skipped)} rows-only")
    return 1 if failed else 0


def main() -> int:
    argv = sys.argv[1:]
    vanilla = "--vanilla" in argv
    argv = [a for a in argv if a != "--vanilla"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    sys.path.insert(0, ".")
    import __spark_entry__ as e

    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .appName("oracle-check-vanilla")
            .config("spark.sql.shuffle.partitions", "32")
            .getOrCreate()
        )
    else:
        from aws_glue_cdc_metrics_job_spark.session import get_spark

        spark = get_spark(app_name="oracle-check")
    return check_all(spark, sf_dir, e.queries(), e.oracle_sql(), only)


if __name__ == "__main__":
    raise SystemExit(main())
