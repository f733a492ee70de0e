"""Z-order (Morton) multi-dimensional clustering keys.

The reference lays its gold tables out by at most ONE dimension (a
partition column or an ORDER BY), so any query filtering on a second
dimension scans everything. Z-ordering interleaves the bits of several
normalized dimensions into one sort key, so rows close in the key are
close in EVERY interleaved dimension -- files written in ZKEY ranges have
bounded min/max rectangles on all of them, and parquet row-group /
min-max pruning works for each dimension's filters, not just the first
(the layout trick behind Delta/Iceberg OPTIMIZE ZORDER, going back to
Morton 1966 and Orenstein & Merrett, SIGMOD 1984).

Everything here is a pure Column expression on an integer lattice --
normalization is ``(x - min) * (2^bits - 1) div (max - min)`` and the
interleave is a static sum of bit shifts -- so the whole key replays
bit-identically in any SQL engine (``zorder_sql`` emits the matching
ANSI SQL) and stays inside whole-stage codegen (no UDF anywhere).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _norm(col: str, lo: str, hi: str, bits: int, div: str = "DIV") -> str:
    """SQL for min-max normalization of ``col`` onto [0, 2^bits). ``div``
    is the engine's integer-division operator: Spark spells it DIV,
    DuckDB //.

    Out-of-bounds values are CLAMPED to the lattice ends:
    without the clamp, values above ``hi`` alias modulo 2^bits through the
    interleave (norm 256 at bits=8 sorts like 0), and values below ``lo``
    hit the one place Spark's DIV (truncate toward zero) and DuckDB's //
    (floor) disagree. Clamping restores both properties: every negative
    quotient maps to 0 under either division convention, and positive
    quotients are engine-identical -- so the replay holds for ALL inputs,
    and out-of-range rows genuinely sort to an end."""
    top = (1 << bits) - 1
    raw = f"((CAST({col} AS BIGINT) - ({lo})) * {top}) {div} (({hi}) - ({lo}))"
    return (
        f"(CASE WHEN ({hi}) > ({lo}) "
        f"THEN LEAST(GREATEST({raw}, 0), {top}) "
        f"ELSE 0 END)"
    )


def _interleave(norms: list[str], bits: int, div: str = "DIV") -> str:
    """SQL summing bit i of normalized column c into position i*m+(m-1-c):
    column 0 owns the most significant bit of each group, so ordering by
    the key alternates dimensions fairly."""
    m = len(norms)
    terms = []
    for i in range(bits):
        for c, n in enumerate(norms):
            shift = i * m + (m - 1 - c)
            terms.append(f"((({n}) {div} {1 << i}) % 2) * {1 << shift}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def zorder_sql(
    cols: list[str],
    bounds: list[tuple[int, int]] | list[tuple[str, str]],
    bits: int = 8,
    div: str = "DIV",
) -> str:
    """The Z-key as an engine-portable SQL expression string, with literal
    per-column (min, max) bounds. Spark and DuckDB both floor-divide
    nonnegative integers identically, so the emitted expression is the
    oracle replay of :func:`zorder_key`."""
    if len(cols) != len(bounds):
        raise ValueError("cols and bounds must align")
    if not 1 <= bits <= 21:
        # 21 bits x 3 cols = 63 bits is the BIGINT ceiling
        raise ValueError(f"bits must be in [1, 21], got {bits}")
    if len(cols) * bits > 63:
        raise ValueError("len(cols) * bits must fit in a signed 64-bit key")
    norms = [
        _norm(c, str(lo), str(hi), bits, div) for c, (lo, hi) in zip(cols, bounds)
    ]
    return _interleave(norms, bits, div)


def zorder_key(cols: list[str], bounds: list[tuple[int, int]], bits: int = 8) -> Column:
    """Z-order key Column over integer columns with LITERAL bounds (use
    :func:`add_zorder_key` to derive bounds from the data without a
    driver collect). Values outside the bounds clamp to the lattice ends
    inside :func:`_norm`, so out-of-range rows sort to an end of that
    dimension and the key replays identically in Spark and DuckDB."""
    return F.expr(zorder_sql(cols, bounds, bits))


def add_zorder_key(
    df: DataFrame, cols: list[str], bits: int = 8, out_col: str = "ZKEY"
) -> DataFrame:
    """Append a Z-order key derived from the frame's OWN min/max per
    dimension: the bounds ride a 1-row aggregate broadcast-crossed onto
    the scan (never collected to the driver), so the whole thing is one
    distributed pass. The per-column CASE guards degenerate (constant)
    dimensions."""
    if not cols:
        raise ValueError("cols must be non-empty")
    if len(cols) * bits > 63:
        raise ValueError("len(cols) * bits must fit in a signed 64-bit key")
    aggs = []
    for c in cols:
        aggs.append(F.min(F.col(c)).cast("bigint").alias(f"__lo_{c}"))
        aggs.append(F.max(F.col(c)).cast("bigint").alias(f"__hi_{c}"))
    b = df.agg(*aggs)
    norms = [_norm(c, f"__lo_{c}", f"__hi_{c}", bits) for c in cols]
    key = F.expr(_interleave(norms, bits))
    drop = [f"__lo_{c}" for c in cols] + [f"__hi_{c}" for c in cols]
    return df.crossJoin(F.broadcast(b)).withColumn(out_col, key).drop(*drop)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    num_files: int = 16,
    mode: str = "overwrite",
    compression: str = "snappy",
) -> None:
    """Write ``df`` as parquet clustered by the Z-order of ``cols``:
    range-partition on the key (so each output file owns a contiguous
    ZKEY range = a bounded rectangle in every interleaved dimension),
    sort within partitions (so row groups inside a file are tight too),
    drop the key, write. Readers filtering on ANY of the interleaved
    columns then skip most row groups via parquet min/max stats -- the
    multi-dimensional generalization of write_bucketed's single-key
    co-location, paid once at ingest like all layout costs."""
    keyed = add_zorder_key(df, cols, bits)
    (
        keyed.repartitionByRange(num_files, F.col("ZKEY"))
        .sortWithinPartitions("ZKEY")
        .drop("ZKEY")
        .write.mode(mode)
        .option("compression", compression)
        .parquet(path)
    )
