"""Cross-engine deterministic numerics.

The oracle gate (``__spark_entry__.oracle_sql``) hashes Spark results against
DuckDB results value-for-value, which makes two float pitfalls fatal:

1. **ROUND ties.** Spark's ``round`` converts the double to its shortest
   decimal string and applies HALF_UP; DuckDB rounds the binary value. For a
   product like ``928.45 * 0.10 = 92.845`` (binary ``92.84499999...``) the two
   disagree by a cent. Fix: both sides use the same arithmetic formula
   ``FLOOR(x * 10^n + 0.5) / 10^n`` -- identical IEEE ops on identical inputs
   give bit-identical output on any engine (half-up toward +inf for all
   signs; inputs must stay below 2^53 / 10^n, fine for money).

2. **Summation order.** SUM(double) accumulates in partition/merge order;
   at 1e10-magnitude totals the error exceeds a cent, so no rounding can
   rescue it. Fix: sum money as DECIMAL (exact integer arithmetic in both
   engines, order-independent), then cast the exact result to double.
   Requires the operand to be an exact scale-``s`` value, which holds for
   this engine's money columns (source prices are 2-dec; derived line values
   are 4-dec products recovered exactly by the decimal cast).

Each helper has a Spark (Column) and a SQL-text twin; call sites must use
them in matched pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

PRECISION = 18


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def rhu(col: Column | str, n: int) -> Column:
    """Round half-up via floor -- engine-portable (see module doc)."""
    s = 10**n
    return F.floor(_c(col) * s + F.lit(0.5)) / s


def sql_rhu(expr: str, n: int) -> str:
    s = 10**n
    return f"FLOOR(({expr}) * {s} + 0.5) / {s}"


def money(col: Column | str, scale: int = 4) -> Column:
    """Exact decimal image of a money double (operand must be an exact
    scale-``scale`` value up to float noise)."""
    return _c(col).cast(f"decimal({PRECISION},{scale})")


def dsum(col: Column | str, scale: int = 4) -> Column:
    """Order-independent exact money sum, returned as double."""
    return F.sum(money(col, scale)).cast("double")


def sql_dsum(expr: str, scale: int = 4) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL({PRECISION},{scale}))) AS DOUBLE)"


def dsum_over(col: Column | str, window: Window, scale: int = 4) -> Column:
    """Windowed exact money sum (e.g. cumulative LTV), as double."""
    return F.sum(money(col, scale)).over(window).cast("double")


def sql_dsum_over(expr: str, over: str, scale: int = 4) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL({PRECISION},{scale}))) OVER ({over}) AS DOUBLE)"
