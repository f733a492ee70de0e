"""Relational helpers with semantics worth naming (SURVEY.md §7 step 3).

Everything here is a thin, tested composition of built-in DataFrame ops --
no UDFs, fully inside Catalyst/whole-stage-codegen. Bare ``select`` /
``filter`` / ``withColumn`` are used directly at call sites and deliberately
not wrapped.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.numeric import rhu


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to defaultParallelism when the input has
    fewer partitions. Compute-heavy narrow stages (shingle explode, Arrow
    scoring) otherwise inherit a compact file's 1-2 scan partitions and pin
    the work to 1-2 cores; on a many-file production table this is a no-op.
    The shuffle moves only the input bytes -- negligible next to the
    downstream per-row work these operators exist for."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def keep_latest(
    df: DataFrame,
    keys: list[str],
    order_by: list[Column | str],
    tiebreakers: list[str] | None = None,
) -> DataFrame:
    """Deterministic keyed dedup: keep exactly one row per key, the first
    under ``order_by`` (+ ``tiebreakers`` to break residual ties).

    Replaces the reference's bare ``dropDuplicates(keys)``
    (scripts/cdc_metrics_job.py:139,163,450) whose surviving row is
    partition-order dependent, i.e. nondeterministic across runs/cluster
    sizes. Implemented as row_number over a window -- one shuffle on
    ``keys``, same cost class as dropDuplicates, but stable.
    """
    order = list(order_by) + [F.col(c) for c in (tiebreakers or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def top_k_per_group(
    df: DataFrame,
    keys: list[str],
    order_by: list[Column | str],
    k: int = 1,
    rank_col: str | None = None,
) -> DataFrame:
    """Top-K rows per group via row_number (reference's top-1 pattern,
    scripts/cdc_metrics_job.py:247-251, generalized and made deterministic
    by requiring a total ``order_by``)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    out = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)
    return out.withColumnRenamed("__rn", rank_col) if rank_col else out.drop("__rn")


def any_column_differs(left_alias: str, right_alias: str, cols: list[str], null_safe: bool = True) -> Column:
    """OR-of-differences predicate over ``cols`` between two aliased sides.

    The reference builds this as a SQL string
    (``" OR ".join(f"curr.{c} <> prev.{c}")``, scripts/cdc_metrics_job.py:106)
    whose ``<>`` is null-hostile: NULL->value and value->NULL transitions
    compare to NULL and the row is silently dropped. ``null_safe=True`` uses
    the negated null-safe equality (IS DISTINCT FROM) instead;
    ``null_safe=False`` reproduces the reference for parity tests."""
    if not cols:
        # key-only table (e.g. a pure date dimension): rows with equal keys
        # are identical, so nothing can ever classify as an update
        return F.lit(False)
    if null_safe:
        terms = [~F.col(f"{left_alias}.{c}").eqNullSafe(F.col(f"{right_alias}.{c}")) for c in cols]
    else:
        terms = [F.col(f"{left_alias}.{c}") != F.col(f"{right_alias}.{c}") for c in cols]
    return reduce(or_, terms)


def join_fill(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    fill: dict[str, float | int | str],
    how: str = "left",
) -> DataFrame:
    """Outer-ish join + null fill for the no-match side, the reference's
    revenue-assembly shape (scripts/cdc_metrics_job.py:182-183 left join +
    ``na.fill({"OPTION_PRICE": 0.0})``; :351-352 outer join + fillna)."""
    return left.join(right, on, how).na.fill(fill)


def sum_where(cond: Column, value: Column | str, alias: str) -> Column:
    """Conditional aggregation: SUM(CASE WHEN cond THEN value END) -- the
    single-pass alternative to the reference's two filtered aggregates +
    outer join for trailing-window comparison (scripts/cdc_metrics_job.py:
    341-351, SURVEY.md C6). One shuffle instead of three."""
    v = F.col(value) if isinstance(value, str) else value
    return F.sum(F.when(cond, v)).alias(alias)


def pct_change(cur: Column, prev: Column) -> Column:
    """Percent change with NULL on zero denominator
    (scripts/cdc_metrics_job.py:353-354)."""
    return F.when(prev == 0, F.lit(None).cast("double")).otherwise((cur - prev) / prev * 100)


def salted_count_distinct(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    alias: str,
    salt: int = 64,
) -> Column | DataFrame:
    """Skew-resistant *exact* COUNT(DISTINCT value) per key, in two phases:
    salt derived from the VALUE (pmod(xxhash64(value), salt)) splits each
    hot key's distinct-set across ``salt`` reducers; per-(key, salt) counts
    then sum exactly because a given value always lands in the same salt
    bucket -- no double counting. Use when one key holds a large share of
    the rows and the single-reducer distinct of plain countDistinct stalls
    the stage (SURVEY.md A4 at 100TB)."""
    s = F.pmod(F.xxhash64(F.col(value_col)), F.lit(salt))
    partial = df.groupBy(*[F.col(k) for k in keys], s.alias("__salt")).agg(
        F.countDistinct(value_col).alias("__c")
    )
    return partial.groupBy(*keys).agg(F.sum("__c").cast("long").alias(alias))


def skew_report(
    df: DataFrame,
    keys: list[str],
    top: int = 20,
    partitions: int | None = None,
) -> DataFrame:
    """Join/agg-key skew diagnostics: the ``top`` heaviest key values with
    their row counts, share of all rows (ppm, exact integer arithmetic),
    and the hot key's multiple of a perfectly-even partition's load -- the
    number that says whether AQE's skew split will cope or a salted join /
    explicit salt factor is needed (SKEW_X ~ the salt factor that levels
    it). One hash aggregation on the keys (map-side combined) plus a
    top-k over the aggregated frame; the broadcast 1-row total never
    moves data.

    Returns (keys..., N_ROWS, SHARE_PPM, SKEW_X_CENTI bigint) ordered by
    N_ROWS desc. SKEW_X_CENTI is the skew multiple in exact centi-units
    (137 = 1.37x an even partition's load), computed with integer
    half-up arithmetic -- (N*P*200 + T) div (2*T) -- so the value hashes
    identically across engines (no double rounding in the last ulp)."""
    n_part = partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("N_ROWS"))
    total = counts.agg(F.sum("N_ROWS").alias("__TOT"))
    # orderBy+limit compiles to TakeOrderedAndProject: each scan partition
    # keeps only its local top-k, so the single-reducer step sees
    # partitions*k rows, not the distinct-key table.
    ranked = (
        counts.crossJoin(F.broadcast(total))
        .orderBy(F.col("N_ROWS").desc(), *[F.col(k).asc() for k in keys])
        .limit(top)
    )
    return ranked.select(
        *keys,
        "N_ROWS",
        F.expr("(N_ROWS * 1000000) div __TOT").alias("SHARE_PPM"),
        F.expr(f"(N_ROWS * {int(n_part)} * 200 + __TOT) div (2 * __TOT)")
        .cast("long")
        .alias("SKEW_X_CENTI"),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    keys: list[str],
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Skewed equi-join: replicate the small side ``salt`` times and spread
    the big side's rows across replicas with a per-row deterministic salt,
    so one hot key occupies ``salt`` reducers instead of one. Exact for
    inner/left joins (each big row meets exactly one replica). Prefer AQE's
    skew-join first; this is the manual fallback when the skew is known and
    extreme (SURVEY.md §4 hazards).

    The replication is a generate (explode of a literal salt array), not a
    join -- the plan stays BNLJ-free and the replica stage is map-side."""
    replicas = small.withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i).cast("int") for i in range(salt)])),
    )
    salted_big = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt)).cast("int")
    )
    return salted_big.join(replicas, keys + ["__salt"], how).drop("__salt")


def basket_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 5,
) -> DataFrame:
    """Market-basket co-occurrence: for every item pair appearing together
    in at least ``min_support`` baskets, the pair count, each item's
    basket count, and the observed/expected lift
    ``N_AB * N_BASKETS / (N_A * N_B)`` -- association-rule mining's
    support/lift core, with the same log-free exact-count discipline as
    the text collocation miner.

    Scale shape: baskets collapse to DISTINCT (basket, item) first, the
    pair stage is a SELF-EQUI-JOIN ON THE BASKET KEY (never a global
    cross product -- each basket expands quadratically only in its own
    distinct-item count, the data model's bounded fan-out), and
    min_support prunes the pair table before the item-count joins.
    Skewed mega-baskets are the hazard: cap or salt upstream if a basket
    can hold thousands of distinct items.

    Returns (ITEM_A, ITEM_B, N_AB, N_A, N_B, LIFT), ITEM_A < ITEM_B."""
    # ONE exchange builds each basket's sorted distinct-item array
    # (collect_set dedups repeats in the same agg -- no separate
    # (basket, item) distinct); basket count, per-item counts and the
    # ITEM_A < ITEM_B pair stream all derive from it without another
    # edge-sized shuffle (the old shape paid a distinct plus a self-join)
    # (multi-referenced, but NOT checkpointed: the three consumers share
    # the basket agg's exchange via ReusedExchange, and re-running the
    # cheap agg above it measured faster than materializing the arrays)
    baskets = (
        # NULL baskets carry no pair signal and must not count in the
        # lift denominator (a self-join never matches NULL keys;
        # groupBy would collapse them into ONE pseudo-basket)
        df.select(F.col(basket_col).alias("__b"), F.col(item_col).alias("__i"))
        .where(F.col("__b").isNotNull())
        .groupBy("__b")
        .agg(F.array_sort(F.collect_set("__i")).alias("__items"))
    )
    # 1-row broadcast total (the skew_report pattern), not a driver action
    n_baskets = baskets.agg(F.count(F.lit(1)).cast("double").alias("__NB"))
    item_counts = (
        baskets.select(F.explode("__items").alias("__i"))
        .groupBy(F.col("__i"))
        .agg(F.count(F.lit(1)).alias("N_ITEM"))
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(__items, (x, i) ->"
                    " transform(slice(__items, i + 2, size(__items) - i - 1),"
                    "           y -> struct(x AS ITEM_A, y AS ITEM_B))))"
                )
            ).alias("__p")
        )
        .select("__p.ITEM_A", "__p.ITEM_B")
        .groupBy("ITEM_A", "ITEM_B")
        .agg(F.count(F.lit(1)).alias("N_AB"))
        .filter(F.col("N_AB") >= min_support)
    )
    ia = item_counts.select(F.col("__i").alias("ITEM_A"), F.col("N_ITEM").alias("N_A"))
    ib = item_counts.select(F.col("__i").alias("ITEM_B"), F.col("N_ITEM").alias("N_B"))
    lift = (F.col("N_AB").cast("double") * F.col("__NB")) / (
        F.col("N_A").cast("double") * F.col("N_B").cast("double")
    )
    return (
        pairs.join(ia, "ITEM_A")
        .join(ib, "ITEM_B")
        .crossJoin(F.broadcast(n_baskets))
        .select("ITEM_A", "ITEM_B", "N_AB", "N_A", "N_B", rhu(lift, 6).alias("LIFT"))
    )
