"""Distributed statistics: deterministic bootstrap confidence intervals.

Model-eval pipelines need error bars on corpus-level metrics (mean quality
score, mean eval accuracy) computed WITHOUT collecting the data: the Poisson
bootstrap (the standard streaming/distributed bootstrap approximation --
each row's multiplicity in replicate r is an independent Poisson(1) draw,
avoiding the need to sample exactly n rows globally) turns resampling into
a per-row weighting, which is one explode + one aggregation in any engine.

Determinism discipline matches the samplers: every Poisson draw is the
md5(key|replicate|seed) uniform pushed through the fixed Poisson(1) inverse
CDF (cumulative thresholds materialized as hex literals from the same
Python constants in Spark and oracle SQL), so replicate weights -- and
therefore the interval -- are bit-reproducible across engines, runs, and
cluster sizes.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.numeric import dsum, rhu

_HEX_DIGITS = 8
_POISSON_MAX = 7  # tail beyond k=6 (~8e-5 mass) collapses into 7


def poisson1_hex_thresholds() -> list[str]:
    """Cumulative Poisson(1) CDF for k=0..6 on the 32-bit hex lattice --
    the shared literals both engines compare the md5 draw against."""
    cum, acc = [], 0.0
    for k in range(_POISSON_MAX):
        acc += math.exp(-1.0) / math.factorial(k)
        cum.append(format(min(int(acc * 16**_HEX_DIGITS), 16**_HEX_DIGITS - 1), "08x"))
    return cum


def _poisson_weight(u_hex: F.Column) -> F.Column:
    w = None
    for k, thr in enumerate(poisson1_hex_thresholds()):
        cond = u_hex < F.lit(thr)
        w = F.when(cond, k) if w is None else w.when(cond, k)
    return w.otherwise(_POISSON_MAX)


def _poisson_weight_int(u32: F.Column) -> F.Column:
    """Fast-path twin of :func:`_poisson_weight`: the same cumulative
    thresholds compared as integers on the 2^32 lattice (for xxhash64
    draws, which exist only Spark-side)."""
    w = None
    for k, thr in enumerate(poisson1_hex_thresholds()):
        cond = u32 < F.lit(int(thr, 16))
        w = F.when(cond, k) if w is None else w.when(cond, k)
    return w.otherwise(_POISSON_MAX)


def bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    key_cols: list[str],
    group_cols: list[str] | None = None,
    b: int = 200,
    level: float = 0.95,
    seed: str = "bs",
    scale: int = 2,
    portable: bool = True,
) -> DataFrame:
    """Per-group mean with a percentile-bootstrap confidence interval:
    ``b`` Poisson(1) replicates, each replicate's mean an exact-decimal
    weighted sum over the whole group, interval = interpolated percentiles
    of the replicate means. Returns (group_cols..., N_ROWS, MEAN, CI_LO,
    CI_HI).

    Shape: the replicate explode multiplies rows by ``b``, but the partial
    aggregation collapses map-side to ``b`` rows per (group, partition)
    before the shuffle -- the exploded stream never crosses the wire, so
    cost is b x scan-CPU, not b x shuffle. Replicate means use the dsum
    decimal convention (order-independent), and the final percentile runs
    over a b-row frame per group."""
    group_cols = group_cols or []
    lo_q, hi_q = (1 - level) / 2, 1 - (1 - level) / 2
    rep = F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("__rep")
    if portable:
        u = F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(c).cast("string") for c in key_cols],
                    F.col("__rep").cast("string"),
                    F.lit(seed),
                )
            ),
            1,
            _HEX_DIGITS,
        )
        weight = _poisson_weight(u)
    else:
        # engine-fast path: one JVM xxhash64 per (row, replicate) instead
        # of an md5 + substring -- a DIFFERENT (still deterministic,
        # still uniform) draw stream, so the interval differs within
        # bootstrap noise; NOT oracle-replayable (sketches._cm_col
        # convention). The 100TB default when cross-engine replay of the
        # draws themselves isn't required.
        u32 = F.pmod(
            F.xxhash64(*key_cols, F.col("__rep"), F.lit(seed)), F.lit(1 << 32)
        )
        weight = _poisson_weight_int(u32)
    reps = df.select(*group_cols, *key_cols, F.col(value_col), rep).withColumn(
        "__w", weight
    )
    means = (
        reps.groupBy(*group_cols, "__rep")
        .agg(
            dsum(F.col(value_col) * F.col("__w"), scale).alias("__s"),
            F.sum("__w").alias("__n"),
        )
        .filter(F.col("__n") > 0)
        .select(*group_cols, rhu(F.col("__s") / F.col("__n"), 6).alias("__m"))
    )
    ci = means.groupBy(*group_cols).agg(
        rhu(F.percentile("__m", F.lit(lo_q)), 6).alias("CI_LO"),
        rhu(F.percentile("__m", F.lit(hi_q)), 6).alias("CI_HI"),
    )
    point = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("N_ROWS"),
        rhu(dsum(value_col, scale) / F.count(F.lit(1)), 6).alias("MEAN"),
    )
    if group_cols:
        return point.join(ci, group_cols).select(
            *group_cols, "N_ROWS", "MEAN", "CI_LO", "CI_HI"
        )
    return point.crossJoin(F.broadcast(ci)).select("N_ROWS", "MEAN", "CI_LO", "CI_HI")


def grouped_trend(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: list[str],
    scale: int = 6,
) -> DataFrame:
    """Per-group ordinary-least-squares trend line over (x, y) pairs --
    the metric-drift detector: slope of a KPI against time (or any
    ordinal), its intercept, and R² goodness of fit, from the closed-form
    sufficient statistics

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        r²    = (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²)(n·Σy² − (Σy)²))

    The sufficient statistics are EXACT integers: x and y quantize to the
    6-dp lattice (floor(v·1e6 + 0.5), a DECIMAL(19,0) image -- 19, not 18,
    because DuckDB computes an 18-digit multiply in int64 and overflows;
    19 promotes to hugeint), products stay inside DECIMAL(38,0), sums too — the same
    arithmetic in every engine at every partitioning, where the builtin
    ``regr_slope`` accumulates doubles in shuffle order and drifts in the
    last ulp at 1000 executors. Both axes share the lattice, so the slope
    and R² are those of the quantized data unchanged; the intercept
    de-scales by 1e6. One aggregation, map-side combinable, no window;
    degenerate groups (n < 2 or zero x-variance) return NULL rather than
    ±inf. Operand contract: the DECIMAL(38,0) sum of squared lattice
    values must fit 38 digits, i.e. n·(v·1e6)² < 1e38 — |x|, |y| ≤ 1e9
    is safe up to 1e14 points per group (metric series are far inside
    this); beyond it Spark NULLs the sum while DuckDB errors, so
    pre-scale larger operands.

    Returns (group_cols..., N_POINTS, SLOPE, INTERCEPT, R2)."""
    # widen integral operands BEFORE scaling: an integer column would
    # multiply in int32 and overflow under ANSI for |v| > 2147 (observed:
    # day indexes anchored years away from the data). long keeps integer
    # values exact; fractional/decimal inputs are unaffected (no widening
    # that could move a .5 boundary). Applied symmetrically to x AND y --
    # an integral y with |y| > 2147 hits the identical overflow.
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    _integral = (ByteType, ShortType, IntegerType, LongType)
    x_in = F.col(x_col)
    if isinstance(df.schema[x_col].dataType, _integral):
        x_in = x_in.cast("long")
    y_in = F.col(y_col)
    if isinstance(df.schema[y_col].dataType, _integral):
        y_in = y_in.cast("long")
    xq = F.floor(x_in * 1000000 + F.lit(0.5)).cast("decimal(19,0)")
    yq = F.floor(y_in * 1000000 + F.lit(0.5)).cast("decimal(19,0)")
    q = df.select(*group_cols, xq.alias("__x"), yq.alias("__y"))
    agg = q.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("N_POINTS"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
    )
    n = F.col("N_POINTS").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxy, sxx, syy = (
        F.col("__sxy").cast("double"),
        F.col("__sxx").cast("double"),
        F.col("__syy").cast("double"),
    )
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    ok = (F.col("N_POINTS") >= 2) & (var_x > 0)
    slope = F.when(ok, rhu(cov_n / var_x, scale))
    intercept = F.when(ok, rhu(((sy - (cov_n / var_x) * sx) / n) / 1000000, scale))
    r2 = F.when(ok & (var_y > 0), rhu((cov_n * cov_n) / (var_x * var_y), scale))
    return agg.select(
        *group_cols,
        "N_POINTS",
        slope.alias("SLOPE"),
        intercept.alias("INTERCEPT"),
        r2.alias("R2"),
    )


def cusum_shifts(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    value_col: str,
    target_cents: int | str,
    threshold_cents: int,
    scale: int = 2,
) -> DataFrame:
    """One-sided CUSUM change-point detection (Page 1954) per group, as
    PURE window functions on the exact integer-cents lattice.

    The textbook recurrence S_t = max(0, S_{t-1} + (x_t - k)) is not a
    window expression, but its closed form is: S_t = C_t - min(C_0..C_t)
    where C is the running sum of deviations -- two frames over ONE
    ordered pass per group, no recursion, no UDF, deterministic at any
    partitioning because every term is an integer. Upward level shifts
    are flagged where S_t > h.

    Scale shape: one hash partition per group, one sort within it (the
    standard per-key-series contract -- skew bounded by the longest
    single series); all arithmetic codegen. Returns one row per input
    point: group cols, order col, VALUE_CENTS, CUSUM_CENTS, SHIFTED.

    ``target_cents`` is the reference level k: an int literal, or the
    NAME of an integer-cents column carrying a per-group target (e.g.
    each group's own long-run mean).
    """
    s = 10**scale
    k = F.col(target_cents) if isinstance(target_cents, str) else F.lit(int(target_cents))
    dev = (F.col(value_col) * s).cast("long") - k
    w = Window.partitionBy(*group_cols).orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = (
        df.withColumn("__c", F.sum(dev).over(w))
        .withColumn("__cmin", F.min(F.least(F.col("__c"), F.lit(0))).over(w))
        .select(
            *group_cols,
            F.col(order_col),
            (F.col(value_col) * s).cast("long").alias("VALUE_CENTS"),
            (F.col("__c") - F.col("__cmin")).alias("CUSUM_CENTS"),
            (F.col("__c") - F.col("__cmin") > F.lit(int(threshold_cents))).alias("SHIFTED"),
        )
    )
    return out


def gini_split_candidates(
    df: DataFrame,
    feature: str,
    positive: F.Column,
    bins: int = 64,
    decimals: int = 2,
) -> DataFrame:
    """Decision-stump split finding: score every candidate threshold on a
    numeric feature by exact-in-ppm Gini gain against a binary label --
    the inner loop of tree learners, and the feature-vs-label diagnostic
    ("at what value does behavior change, and how much signal is there")
    run at corpus scale without collecting anything.

    Scale shape, in three bounded steps: (1) the feature lands on an
    integer lattice (round-half-up at ``decimals``) and is equi-width
    binned into ``bins`` buckets -- bounds ride a 1-row broadcast
    aggregate (the zorder normalization pattern), so the candidate set is
    FIXED at bins-1 regardless of row count; (2) one groupBy(bin) shrinks
    the data to <= bins rows; (3) prefix sums + gain arithmetic run on
    that bounded frame (its single-partition window is over <= bins rows
    BY CONSTRUCTION -- the documented exception to the no-SinglePartition
    rule). Total cost: one scan + one tiny shuffle, independent of n.

    Overflow-proof at ANY n: all gain arithmetic is on ppm PROPORTIONS
    (p = pos*1e6 div n <= 1e6; gini = 2p(1e6-p) div 1e6 <= 5e11; child
    weights are ppm of n), so no product exceeds ~1e18 even at 100 TB row
    counts -- and every floor division replays identically in any SQL
    engine. The ppm flooring costs at most ~1e-6 of gain per term, far
    below any real split decision margin; ties in GAIN_PPM break by
    SPLIT_BIN downstream.

    Rows with a NULL feature or label are excluded. Returns one row per
    candidate (SPLIT_BIN b = "left child takes bins <= b"):
    (SPLIT_BIN, THRESHOLD_LATTICE -- the left child's inclusive upper
    bound on the 10^decimals lattice, N_LEFT, POS_LEFT, N_RIGHT,
    POS_RIGHT, GAIN_PPM), degenerate empty-side splits omitted."""
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    m = 10**decimals
    vc = F.floor(F.col(feature) * m + F.lit(0.5)).cast("bigint")
    base = (
        df.where(F.col(feature).isNotNull())
        .select(vc.alias("__vc"), positive.cast("int").alias("__pos"))
        .where(F.col("__pos").isNotNull())
    )
    b = base.agg(
        F.min("__vc").alias("__lo"),
        F.max("__vc").alias("__hi"),
    )
    binned = (
        base.crossJoin(F.broadcast(b))
        .select(
            F.when(
                F.col("__hi") > F.col("__lo"),
                F.expr(f"((__vc - __lo) * {bins}) div (__hi - __lo + 1)"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("__bin"),
            "__pos",
            "__lo",
            "__hi",
        )
        .groupBy("__bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__n"),
            F.sum("__pos").cast("bigint").alias("__p"),
            F.first("__lo").alias("__lo"),
            F.first("__hi").alias("__hi"),
        )
    )
    # everything below runs on <= bins rows; grand totals ride an
    # unbounded frame over the SAME tiny ordered window (a crossJoin with
    # a separate aggregate would re-expand the whole scan subtree --
    # measured as a second full input scan in the executed plan)
    w = Window.orderBy("__bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("__bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = binned.select(
        "__bin",
        "__lo",
        "__hi",
        F.sum("__n").over(w).alias("NL"),
        F.sum("__p").over(w).alias("PL"),
        F.sum("__n").over(wall).cast("bigint").alias("NT"),
        F.sum("__p").over(wall).cast("bigint").alias("PT"),
    )

    def gini(p, n):
        return F.expr(
            f"(2 * (({p} * 1000000) div {n}) * (1000000 - (({p} * 1000000) div {n}))) div 1000000"
        )

    return (
        cum.where((F.col("NL") > 0) & (F.col("NL") < F.col("NT")))
        .select(
            F.col("__bin").cast("bigint").alias("SPLIT_BIN"),
            # inclusive upper bound of bin b: the largest lattice x with
            # (x - lo) * bins div R == b is lo + ceil((b+1)*R/bins) - 1;
            # ceil(a/b)-1 == (a-1) div b on positive ints. (A plain
            # floor((b+1)*R/bins)-1 under-reports whenever bins does not
            # divide (b+1)*R, excluding the top lattice value the counts
            # actually include.)
            F.expr(f"__lo + ((((__bin + 1) * (__hi - __lo + 1)) - 1) div {bins})")
            .cast("bigint")
            .alias("THRESHOLD_LATTICE"),
            F.col("NL").cast("bigint").alias("N_LEFT"),
            F.col("PL").cast("bigint").alias("POS_LEFT"),
            (F.col("NT") - F.col("NL")).cast("bigint").alias("N_RIGHT"),
            (F.col("PT") - F.col("PL")).cast("bigint").alias("POS_RIGHT"),
            (
                gini("PT", "NT")
                - F.expr(
                    "((NL * 1000000) div NT) * "
                    "((2 * ((PL * 1000000) div NL) * (1000000 - ((PL * 1000000) div NL))) div 1000000)"
                    " div 1000000"
                )
                - F.expr(
                    "(((NT - NL) * 1000000) div NT) * "
                    "((2 * (((PT - PL) * 1000000) div (NT - NL)) * (1000000 - (((PT - PL) * 1000000) div (NT - NL)))) div 1000000)"
                    " div 1000000"
                )
            )
            .cast("bigint")
            .alias("GAIN_PPM"),
        )
    )


def pr_curve(
    df: DataFrame,
    score_col: str,
    positive,
    qs_bp: list[int],
    buckets: int = 64,
) -> DataFrame:
    """Precision/recall sweep for a score-ranked binary classifier -- the
    evaluation step every trained quality/toxicity/language filter needs
    before it gates a corpus. Thresholds are the exact PERCENTILE_DISC
    values of the score at ``qs_bp`` basis points (real data values from
    the distributed rank -- operators/ranking.rank_percentiles -- so they
    hash identically cross-engine); a row predicts positive when
    ``score >= threshold``. All ratios are exact integer ppm (floor
    division), so the whole curve replays verbatim in SQL.

    Shape: one distributed-rank pass for thresholds (bounded collects by
    construction), then ONE aggregation pass over the scored frame with
    2 conditional sums per threshold -- no per-threshold rescan, no
    explode, no join; the final frame is built from len(qs_bp) driver
    rows of exact integers. Rows with a NULL score or NULL label are
    excluded. Zero-positive inputs report recall 0 rather than dividing
    by zero (and precision 0 where nothing clears a threshold).

    Returns one row per quantile: (Q_BP int, THRESHOLD double, TP, FP,
    FN, PRECISION_PPM, RECALL_PPM, F1_PPM -- all BIGINT)."""
    from .ranking import rank_percentiles

    s = df.select(
        F.col(score_col).cast("double").alias("__sc"),
        positive.cast("int").alias("__y"),
    ).where(F.col("__sc").isNotNull() & F.col("__y").isNotNull())
    th_rows = rank_percentiles(
        s.select(F.col("__sc").alias("V")), "V", [], qs_bp, buckets=buckets
    ).collect()  # bounded: one row per requested quantile
    ths = sorted(((r["Q_BP"], r["VALUE"]) for r in th_rows))
    aggs = [F.sum("__y").cast("long").alias("__pos")]
    for i, (_, v) in enumerate(ths):
        ge = F.col("__sc") >= F.lit(v)
        aggs.append(F.sum(F.when(ge, 1).otherwise(0)).cast("long").alias(f"__pp{i}"))
        aggs.append(
            F.sum(F.when(ge & (F.col("__y") == 1), 1).otherwise(0))
            .cast("long")
            .alias(f"__tp{i}")
        )
    row = s.agg(*aggs).collect()[0]  # bounded: ONE row of exact integers
    pos = int(row["__pos"] or 0)
    out = []
    for i, (q, v) in enumerate(ths):
        pp, tp = int(row[f"__pp{i}"]), int(row[f"__tp{i}"])
        prec = (tp * 10**6) // pp if pp else 0
        rec = (tp * 10**6) // pos if pos else 0
        f1 = (2 * prec * rec) // (prec + rec) if prec + rec else 0
        out.append((int(q), float(v), tp, pp - tp, pos - tp, prec, rec, f1))
    return df.sparkSession.createDataFrame(
        out,
        "Q_BP int, THRESHOLD double, TP long, FP long, FN long, "
        "PRECISION_PPM long, RECALL_PPM long, F1_PPM long",
    )


def _equi_width_binned(base, value_col, bins, keep, bin_col="BIN", ppm_col=None):
    """Equi-width binning over a 1-row broadcast min/max of ``value_col``
    (the gini binning pattern, shared by mann_whitney_u /
    distribution_drift / calibration_bins; gini_split_candidates keeps
    its inline variant because it also consumes the raw bounds for
    threshold reconstruction). Returns ``keep`` columns plus ``bin_col``
    (BIGINT, 0 when the domain is a single value) and, when ``ppm_col``
    is given, the value's ppm position inside [lo, hi] -- both floors, so
    the bin edges replay identically in SQL."""
    b = base.agg(F.min(value_col).alias("__lo"), F.max(value_col).alias("__hi"))
    sel = [
        F.when(
            F.col("__hi") > F.col("__lo"),
            F.expr(f"(({value_col} - __lo) * {bins}) div (__hi - __lo + 1)"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias(bin_col)
    ]
    if ppm_col is not None:
        sel.append(
            F.when(
                F.col("__hi") > F.col("__lo"),
                F.expr(f"(({value_col} - __lo) * 1000000) div (__hi - __lo + 1)"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias(ppm_col)
        )
    sel.extend(keep)
    return base.crossJoin(F.broadcast(b)).select(*sel)


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    decimals: int = 2,
    buckets: int = 256,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between two groups -- the
    nonparametric two-sample test an A/B pipeline reaches for when the
    metric is skewed (revenue per user, latency) and a t-test's normality
    assumption is indefensible. Exact integers end-to-end: values land on
    the 10^decimals lattice (ties become well-defined cross-engine), and
    U is DOUBLED (``U_X2``) so tie midranks (k + 1/2) stay integral --
    the standard trick for an exact rank-sum on integer arithmetic.

    Identity used: U_a = sum_v nA(v) * CB(<v) + nA(v)*nB(v)/2, i.e. for
    each distinct value, group-A rows beat every group-B row strictly
    below and half-tie with group-B rows at the same value. Doubling
    clears the half: U_a_x2 = sum_v 2*nA(v)*CB(<v) + nA(v)*nB(v).

    Scale shape: one map-combined groupBy collapses the scan to its
    DISTINCT LATTICE VALUES (bounded by value range * 10^decimals, NOT by
    row count); the strictly-below prefix CB(<v) runs as an intra-bucket
    window partitioned by an equi-width range bucket plus driver-side
    bucket offsets (<= ``buckets`` rows collected -- the sorted_rank
    pattern), so no single-partition window touches the value frame.
    NULL values and rows outside the two groups are excluded.

    Returns ONE row: (N_A, N_B, U_A_X2, U_B_X2, AUC_PPM, TIED_VALUES) --
    AUC_PPM = P(a > b) + P(a = b)/2 in ppm (the probability-of-
    superiority effect size, U_a_x2 * 1e6 div (2 * n_a * n_b), computed
    on a DECIMAL(38,0) intermediate so the *1e6 product cannot overflow);
    TIED_VALUES counts lattice values present in BOTH groups (the tie
    structure a variance correction would need). All BIGINT. Honest
    ceiling: U_X2 <= 2*nA*nB must fit BIGINT, i.e. ~2e9 rows per
    balanced group -- beyond any real A/B readout; a corpus-scale run
    past that needs the same DECIMAL(38,0) lane for the U columns."""
    m = 10**decimals
    lat = F.floor(F.col(value_col) * m + F.lit(0.5)).cast("bigint")
    base = (
        df.where(F.col(value_col).isNotNull())
        .where(F.col(group_col).isin(group_a, group_b))
        .select(
            lat.alias("__v"),
            F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("__a"),
        )
    )
    per = base.groupBy("__v").agg(
        F.sum("__a").cast("bigint").alias("__na"),
        F.sum(1 - F.col("__a")).cast("bigint").alias("__nb"),
    )
    # equi-width range bucket over the lattice (shared _equi_width_binned
    # helper): bounds ride a 1-row broadcast; correctness does not depend
    # on bucket balance, only the prefix decomposition does.
    bucketed = _equi_width_binned(
        per, "__v", buckets, keep=["__v", "__na", "__nb"], bin_col="__rb"
    )
    # bounded collect (<= buckets rows): per-bucket group-B totals ->
    # Python prefix sum -> literal offset lookup, no offsets window/join
    rows = (
        bucketed.groupBy("__rb").agg(F.sum("__nb").alias("__tb")).collect()
    )
    tb = {int(r["__rb"]): int(r["__tb"] or 0) for r in rows}
    nb_buckets = max(tb) + 1 if tb else 1
    offsets, acc = [], 0
    for i in range(nb_buckets):
        offsets.append(acc)
        acc += tb.get(i, 0)
    off = F.element_at(
        F.array(*[F.lit(o) for o in offsets]), F.col("__rb").cast("int") + 1
    )
    w_in = Window.partitionBy("__rb").orderBy("__v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    scored = bucketed.select(
        "__na",
        "__nb",
        (off + F.coalesce(F.sum("__nb").over(w_in), F.lit(0))).alias("__cb_lt"),
    )
    return scored.agg(
        F.sum("__na").cast("bigint").alias("N_A"),
        F.sum("__nb").cast("bigint").alias("N_B"),
        F.sum(2 * F.col("__na") * F.col("__cb_lt") + F.col("__na") * F.col("__nb"))
        .cast("bigint")
        .alias("U_A_X2"),
        F.sum(F.when((F.col("__na") > 0) & (F.col("__nb") > 0), 1).otherwise(0))
        .cast("bigint")
        .alias("TIED_VALUES"),
    ).select(
        "N_A",
        "N_B",
        "U_A_X2",
        F.expr("2 * N_A * N_B - U_A_X2").cast("bigint").alias("U_B_X2"),
        # AUC on a DECIMAL(38,0) intermediate: U_A_X2 * 1e6 overflows
        # BIGINT already at ~2.1e6 rows per balanced group (nA*nB >
        # 4.6e12), which a sf10 bench run approaches; the quotient itself
        # is <= 1e6 so only the product needs the wide lane.
        F.expr(
            "CAST((CAST(U_A_X2 AS DECIMAL(38,0)) * 1000000)"
            " div (2 * CAST(N_A AS DECIMAL(38,0)) * N_B) AS BIGINT)"
        ).alias("AUC_PPM"),
        "TIED_VALUES",
    )


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    observed_col: str,
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator -- the survival curve for
    right-censored durations (time-to-churn, time-to-failure) without
    collecting the data. Each subject contributes a duration (BIGINT,
    e.g. days) and an observed flag (1 = the event happened at that
    duration, 0 = censored: still alive when observation ended).

    H(t) = sum_{t_i <= t} d_i / n_i where d_i = events at t_i and n_i =
    subjects still at risk (duration >= t_i). Every term lands on the ppm
    lattice via floor division BEFORE the cumulative sum, so the whole
    curve is exact integers and replays verbatim in SQL. (Kaplan-Meier's
    survival product is exp(-H) to first order; the additive N-A form is
    the one that stays exact on an integer lattice.)

    Scale shape: ONE map-combined groupBy collapses the cohort to its
    distinct durations -- bounded by the calendar span (days), NOT by
    subject count -- and every window below runs on that bounded frame
    (the documented exception to the no-SinglePartition rule, same as
    gini_split_candidates). NULL durations/flags are excluded.

    Returns one row per distinct duration with at least one observed
    event, ordered: (T, AT_RISK, EVENTS, CENSORED, HAZARD_PPM,
    CUM_HAZARD_PPM), all BIGINT. CENSORED counts subjects leaving the
    risk set at T without the event."""
    base = df.select(
        F.col(duration_col).cast("bigint").alias("__t"),
        F.col(observed_col).cast("int").alias("__e"),
    ).where(F.col("__t").isNotNull() & F.col("__e").isNotNull())
    g = base.groupBy("__t").agg(
        F.sum("__e").cast("bigint").alias("__d"),
        F.count(F.lit(1)).cast("bigint").alias("__c"),
    )
    wall = Window.orderBy("__t").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_before = Window.orderBy("__t").rowsBetween(Window.unboundedPreceding, -1)
    risked = g.select(
        "__t",
        "__d",
        "__c",
        (
            F.sum("__c").over(wall) - F.coalesce(F.sum("__c").over(w_before), F.lit(0))
        ).alias("__n"),
    )
    w_cum = Window.orderBy("__t").rowsBetween(Window.unboundedPreceding, 0)
    hazard = F.expr("(__d * 1000000) div __n")
    return (
        # NB: Spark resolves column names case-insensitively by default,
        # so the per-term and cumulative columns need distinct spellings
        # beyond case ("__h"/"__H" would alias each other).
        risked.withColumn("__haz", hazard)
        .withColumn(
            "__cumh",
            F.sum(F.when(F.col("__d") > 0, F.col("__haz")).otherwise(0)).over(w_cum),
        )
        .where(F.col("__d") > 0)
        .select(
            F.col("__t").alias("T"),
            F.col("__n").alias("AT_RISK"),
            F.col("__d").alias("EVENTS"),
            (F.col("__c") - F.col("__d")).cast("bigint").alias("CENSORED"),
            F.col("__haz").cast("bigint").alias("HAZARD_PPM"),
            F.col("__cumh").cast("bigint").alias("CUM_HAZARD_PPM"),
        )
        .orderBy("T")
    )


def distribution_drift(
    df: DataFrame,
    value_col: str,
    is_current,
    bins: int = 16,
    decimals: int = 2,
) -> DataFrame:
    """Population-drift report between a reference and a current slice of
    the same numeric column -- the monitoring primitive behind PSI-style
    model-input drift checks, kept EXACT on the ppm lattice (PSI's
    ln(p/q) term is float-hostile; total-variation distance and the
    chi-square-style quadratic term carry the same decision signal as
    exact integers).

    Shape (gini binning pattern): values land on the 10^decimals lattice
    and are equi-width binned over the COMBINED min/max (1-row broadcast
    bounds, so both slices share bin edges); one map-combined groupBy
    collapses the scan to <= bins rows; per-bin proportions and the two
    drift totals ride windows over that bounded frame.

    Returns one row per non-empty bin, ordered: (BIN, N_REF, N_CUR,
    P_PPM, Q_PPM, DIFF_PPM, TVD_PPM, CHI2_PPM). P/Q are ref/cur bin
    proportions in ppm; DIFF_PPM = Q - P (signed, current minus
    reference); TVD_PPM = sum|diff| div 2 and CHI2_PPM =
    sum(diff^2 div max(P_PPM, 1)) are constant per-report columns.
    NULL values and rows with a NULL slice flag are excluded. An empty
    slice has no proportions: its ppm column and the drift columns are
    NULL, as DuckDB's ``//`` by zero gives, not an ANSI divide error."""
    m = 10**decimals
    base = df.where(F.col(value_col).isNotNull()).select(
        F.floor(F.col(value_col) * m + F.lit(0.5)).cast("bigint").alias("__v"),
        is_current.cast("int").alias("__cur"),
    ).where(F.col("__cur").isNotNull())
    binned = (
        _equi_width_binned(base, "__v", bins, keep=["__cur"])
        .groupBy("BIN")
        .agg(
            F.sum(1 - F.col("__cur")).cast("bigint").alias("N_REF"),
            F.sum("__cur").cast("bigint").alias("N_CUR"),
        )
    )
    wall = Window.orderBy("BIN").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    props = binned.select(
        "BIN",
        "N_REF",
        "N_CUR",
        F.expr("(N_REF * 1000000)").alias("__pr"),
        F.nullif(F.sum("N_REF").over(wall), F.lit(0)).alias("__tr"),
        F.expr("(N_CUR * 1000000)").alias("__pc"),
        F.nullif(F.sum("N_CUR").over(wall), F.lit(0)).alias("__tc"),
    ).select(
        "BIN",
        "N_REF",
        "N_CUR",
        F.expr("__pr div __tr").cast("bigint").alias("P_PPM"),
        F.expr("__pc div __tc").cast("bigint").alias("Q_PPM"),
        F.expr("(__pc div __tc) - (__pr div __tr)").cast("bigint").alias("DIFF_PPM"),
    )
    return props.select(
        "*",
        (F.sum(F.abs(F.col("DIFF_PPM"))).over(wall) / 2)
        .cast("bigint")
        .alias("TVD_PPM"),
        F.sum(
            F.expr("(DIFF_PPM * DIFF_PPM) div (CASE WHEN P_PPM > 1 THEN P_PPM ELSE 1 END)")
        )
        .over(wall)
        .cast("bigint")
        .alias("CHI2_PPM"),
    ).orderBy("BIN")


def seasonal_decompose_daily(
    df: DataFrame,
    day_col: str,
    cents_col: str,
    period: int = 7,
) -> DataFrame:
    """Classical additive seasonal decomposition of a daily series --
    trend (centered moving average), day-of-week seasonal, remainder --
    on exact integer cents, the revenue-monitoring shape behind "is this
    dip weekday seasonality or a real regression". ``period`` must be
    odd (the centered window is symmetric: (period-1)/2 points each
    side).

    Lattice rules: the trend is sum-of-cents div period (non-negative);
    the seasonal component averages DETRENDED values, which can be
    negative, so the average is sign(s) * (|s| div n) -- both engines
    truncate integer division toward zero, making the expression
    portable where a bare div of a negative sum would have to rely on
    matching truncation semantics.

    Scale shape: the input here is ALREADY an aggregated daily series
    (bounded by calendar span), so the ordered windows below run on a
    bounded-by-construction frame; the upstream daily aggregation is the
    caller's one real shuffle. Window frames are ROW-based: a gap in the
    calendar shifts neighbors into the window (index semantics, not date
    arithmetic) -- gap-fill upstream if the series can be sparse.

    Returns one row per day, ordered: (DAY, VALUE_CENTS, TREND_CENTS --
    NULL at the (period-1)/2 series edges, SEASONAL_CENTS,
    REMAINDER_CENTS -- both NULL wherever trend is NULL)."""
    if period < 3 or period % 2 == 0:
        raise ValueError(f"period must be odd and >= 3, got {period}")
    half = (period - 1) // 2
    w_ma = Window.orderBy(day_col).rowsBetween(-half, half)
    with_trend = df.select(
        F.col(day_col).alias("DAY"),
        F.col(cents_col).cast("bigint").alias("VALUE_CENTS"),
    ).select(
        "DAY",
        "VALUE_CENTS",
        F.when(
            F.count(F.lit(1)).over(
                Window.orderBy("DAY").rowsBetween(-half, half)
            )
            == period,
            F.expr(f"(sum(VALUE_CENTS) OVER (ORDER BY DAY ROWS BETWEEN {half} PRECEDING AND {half} FOLLOWING)) div {period}"),
        )
        .cast("bigint")
        .alias("TREND_CENTS"),
    )
    detr = with_trend.withColumn(
        "__detr", F.col("VALUE_CENTS") - F.col("TREND_CENTS")
    ).withColumn("__dow", F.weekday(F.col("DAY").cast("date")).cast("bigint"))
    w_dow = Window.partitionBy("__dow")
    out = (
        detr.withColumn("__ssum", F.sum("__detr").over(w_dow).cast("bigint"))
        .withColumn("__sn", F.count("__detr").over(w_dow).cast("bigint"))
        .withColumn(
            "SEASONAL_CENTS",
            F.when(
                F.col("__detr").isNotNull() & (F.col("__sn") > 0),
                F.signum(F.col("__ssum")).cast("bigint")
                * F.expr("abs(__ssum) div __sn"),
            ).cast("bigint"),
        )
        .withColumn(
            "REMAINDER_CENTS",
            (F.col("__detr") - F.col("SEASONAL_CENTS")).cast("bigint"),
        )
        .select(
            "DAY", "VALUE_CENTS", "TREND_CENTS", "SEASONAL_CENTS", "REMAINDER_CENTS"
        )
        .orderBy("DAY")
    )
    return out


def calibration_bins(
    df: DataFrame,
    score_col: str,
    positive,
    bins: int = 10,
    decimals: int = 2,
) -> DataFrame:
    """Reliability diagram + expected calibration error for a scored
    binary outcome -- "when the model says 80%, does the event happen 80%
    of the time" -- exact on the ppm lattice. The score lands on the
    10^decimals lattice and is min/max-normalized to a ppm "predicted
    probability" (1-row broadcast bounds, gini binning pattern), then
    equi-width binned; per bin the mean prediction and the observed
    positive rate are integer ppm floors.

    Scale shape: one scan with a map-combined groupBy to <= bins rows;
    the ECE total (sum_b n_b * |gap_b| div N) rides a window over that
    bounded frame. NULL scores/labels are excluded.

    Returns one row per non-empty bin, ordered: (BIN, N, N_POS,
    MEAN_PRED_PPM, OBS_POS_PPM, GAP_PPM = observed - predicted signed,
    ECE_PPM constant per report). All BIGINT."""
    m = 10**decimals
    base = (
        df.where(F.col(score_col).isNotNull())
        .select(
            F.floor(F.col(score_col) * m + F.lit(0.5)).cast("bigint").alias("__v"),
            positive.cast("int").alias("__y"),
        )
        .where(F.col("__y").isNotNull())
    )
    binned = (
        _equi_width_binned(base, "__v", bins, keep=["__y"], ppm_col="__p")
        .groupBy("BIN")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("N"),
            F.sum("__y").cast("bigint").alias("N_POS"),
            F.sum("__p").cast("bigint").alias("__sp"),
        )
    )
    wall = Window.orderBy("BIN").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    scored = binned.select(
        "BIN",
        "N",
        "N_POS",
        F.expr("__sp div N").cast("bigint").alias("MEAN_PRED_PPM"),
        F.expr("(N_POS * 1000000) div N").cast("bigint").alias("OBS_POS_PPM"),
    ).withColumn("GAP_PPM", (F.col("OBS_POS_PPM") - F.col("MEAN_PRED_PPM")).cast("bigint"))
    return scored.select(
        "*",
        F.expr(
            "(sum(N * abs(GAP_PPM)) OVER (ORDER BY BIN ROWS BETWEEN UNBOUNDED"
            " PRECEDING AND UNBOUNDED FOLLOWING))"
            " div (sum(N) OVER (ORDER BY BIN ROWS BETWEEN UNBOUNDED PRECEDING"
            " AND UNBOUNDED FOLLOWING))"
        )
        .cast("bigint")
        .alias("ECE_PPM"),
    ).orderBy("BIN")


def target_encode(
    df: DataFrame,
    cat_col: str,
    positive,
    m: int = 100,
) -> DataFrame:
    """m-estimate target encoding of a categorical feature -- the
    feature-engineering primitive that replaces a category with its
    smoothed positive rate (rare categories shrink toward the global
    rate instead of memorizing noise). Exact ppm integers:

        SMOOTHED_PPM = (n_pos * 1e6 + m * GLOBAL_PPM) div (n + m)

    with GLOBAL_PPM = (N_pos * 1e6) div N -- every term a floor on the
    ppm lattice, replayable in any engine.

    Scale shape: ONE map-combined groupBy collapses the scan to the
    category frame (bounded by category cardinality); the global rate
    rides a window over that bounded frame, never a re-scanning
    aggregate cross join. NULL labels are excluded; NULL categories
    encode as their own group (they are a real category at inference
    time). Overflow: n_pos * 1e6 needs n_pos < 9.2e12 per category.

    Returns one row per category, ordered: (cat_col, N, N_POS, RAW_PPM,
    SMOOTHED_PPM, GLOBAL_PPM constant). Counts BIGINT."""
    if m < 0:
        raise ValueError(f"m must be >= 0, got {m}")
    base = df.select(
        F.col(cat_col), positive.cast("int").alias("__y")
    ).where(F.col("__y").isNotNull())
    g = base.groupBy(cat_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("N"),
        F.sum("__y").cast("bigint").alias("N_POS"),
    )
    wall = Window.orderBy(cat_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        g.withColumn("__tp", F.sum("N_POS").over(wall))
        .withColumn("__tn", F.sum("N").over(wall))
        .withColumn(
            "GLOBAL_PPM", F.expr("(__tp * 1000000) div __tn").cast("bigint")
        )
        .select(
            cat_col,
            "N",
            "N_POS",
            F.expr("(N_POS * 1000000) div N").cast("bigint").alias("RAW_PPM"),
            F.expr(f"(N_POS * 1000000 + {m} * GLOBAL_PPM) div (N + {m})")
            .cast("bigint")
            .alias("SMOOTHED_PPM"),
            "GLOBAL_PPM",
        )
        .orderBy(cat_col)
    )


def mad_anomalies(
    df: DataFrame,
    key_col: str,
    value_col: str,
    k: int = 3,
) -> DataFrame:
    """Robust anomaly screen over a BOUNDED series (daily totals, per-
    partition metrics): flag points more than ``k`` median-absolute-
    deviations from the median. The mean/stddev z-score breaks exactly
    when needed most -- one huge outlier inflates the stddev and hides
    itself; median and MAD have 50% breakdown.

    Exact integer discipline: the median is PERCENTILE_DISC-style -- the
    value at 1-indexed rank (n+1) div 2 of the sorted series, a REAL
    data value picked by rank, not an interpolated float -- and MAD is
    the same rank pick over |x - median|. The flag compares
    |x - median| > k * max(MAD, 1) in plain integers (the max guards the
    degenerate all-identical series where MAD = 0).

    The input must be bounded by contract (an already-aggregated series:
    calendar days, partitions, categories) -- both rank windows are
    global-ordered (the documented bounded-frame exception); the
    caller's upstream aggregation is the real shuffle. NULL values are
    excluded.

    Returns one row per input row, ordered by key: (key_col, value_col
    BIGINT, MEDIAN, ABS_DEV, MAD, IS_ANOMALY int)."""
    base = df.select(
        F.col(key_col).alias("__k"), F.col(value_col).cast("bigint").alias("__v")
    ).where(F.col("__v").isNotNull())
    wall = Window.orderBy("__k").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_rank = Window.orderBy("__v", "__k")
    with_med = (
        base.withColumn("__r", F.row_number().over(w_rank))
        .withColumn("__n", F.count(F.lit(1)).over(wall))
        .withColumn(
            "__med",
            F.max(
                F.when(F.col("__r") == F.expr("(__n + 1) div 2"), F.col("__v"))
            ).over(wall),
        )
        .withColumn("__ad", F.abs(F.col("__v") - F.col("__med")))
    )
    w_rank2 = Window.orderBy("__ad", "__k")
    scored = (
        with_med.withColumn("__r2", F.row_number().over(w_rank2))
        .withColumn(
            "__mad",
            F.max(
                F.when(F.col("__r2") == F.expr("(__n + 1) div 2"), F.col("__ad"))
            ).over(wall),
        )
    )
    return scored.select(
        F.col("__k").alias(key_col),
        F.col("__v").alias(value_col),
        F.col("__med").cast("bigint").alias("MEDIAN"),
        F.col("__ad").cast("bigint").alias("ABS_DEV"),
        F.col("__mad").cast("bigint").alias("MAD"),
        (
            F.col("__ad")
            > k * F.greatest(F.col("__mad"), F.lit(1))
        )
        .cast("int")
        .alias("IS_ANOMALY"),
    ).orderBy(key_col)


def correlation_pairs(
    df: DataFrame,
    cols: list[str],
    scale: int = 6,
) -> DataFrame:
    """Pairwise Pearson correlation matrix over numeric columns -- the
    EDA/profiling primitive ("which measures move together") computed
    with grouped_trend's exactness discipline: every sufficient
    statistic (sums, squares, cross products) is an EXACT DECIMAL
    integer on the 1e6 lattice from ONE aggregation pass, so the inputs
    to the final r are identical at any partitioning and executor count;
    only the last division/sqrt runs in doubles, with both engines
    performing the identical IEEE op sequence (cast each exact integer
    to double, multiply, sqrt, divide, floor-round).

    Shape: one map-combined aggregation producing 2p + p(p-1)/2 + 1
    columns; the per-pair rows come from exploding an array of structs
    OVER THAT SINGLE AGG ROW -- one scan total, where a union of
    per-pair aggregates would re-scan the input per pair. Same operand
    contract as grouped_trend: n * (v*1e6)^2 must fit DECIMAL(38,0).
    NULL handling: rows with a NULL in ANY requested column are excluded
    (matched-pairs semantics, one shared N for the whole matrix).

    Returns one row per unordered pair (a before b in ``cols`` order):
    (COL_A, COL_B, N, R_PPM -- floor(r * 1e6 + 0.5), NULL when either
    variance is zero or n < 2)."""
    if len(cols) < 2:
        raise ValueError(f"need at least 2 columns, got {cols}")
    base = df
    for c in cols:
        base = base.where(F.col(c).isNotNull())
    q = base.select(
        *[
            F.floor(F.col(c).cast("double") * 1000000 + F.lit(0.5))
            .cast("decimal(19,0)")
            .alias(f"__q{i}")
            for i, c in enumerate(cols)
        ]
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("N")]
    for i in range(len(cols)):
        aggs.append(F.sum(F.col(f"__q{i}")).alias(f"__s{i}"))
        aggs.append(F.sum(F.col(f"__q{i}") * F.col(f"__q{i}")).alias(f"__ss{i}"))
    pairs = [(i, j) for i in range(len(cols)) for j in range(len(cols)) if i < j]
    for i, j in pairs:
        aggs.append(F.sum(F.col(f"__q{i}") * F.col(f"__q{j}")).alias(f"__sp{i}_{j}"))
    agg = q.agg(*aggs)
    n = F.col("N").cast("double")
    structs = []
    for i, j in pairs:
        si, sj = F.col(f"__s{i}").cast("double"), F.col(f"__s{j}").cast("double")
        ssi, ssj = F.col(f"__ss{i}").cast("double"), F.col(f"__ss{j}").cast("double")
        sp = F.col(f"__sp{i}_{j}").cast("double")
        covn = n * sp - si * sj
        var_i = n * ssi - si * si
        var_j = n * ssj - sj * sj
        r = F.when(
            (F.col("N") >= 2) & (var_i > 0) & (var_j > 0),
            F.floor(covn / F.sqrt(var_i * var_j) * 1000000 + F.lit(0.5)).cast(
                "bigint"
            ),
        )
        structs.append(
            F.struct(
                F.lit(cols[i]).alias("COL_A"),
                F.lit(cols[j]).alias("COL_B"),
                r.alias("R_PPM"),
            )
        )
    return (
        agg.select("N", F.explode(F.array(*structs)).alias("__p"))
        .select(F.col("__p.COL_A"), F.col("__p.COL_B"), "N", F.col("__p.R_PPM"))
        .orderBy("COL_A", "COL_B")
    )
