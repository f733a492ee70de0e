"""Exact-quantile bucketing (SURVEY.md Q1).

The reference collects the whole LTV snapshot to the driver as pandas and
runs ``pd.qcut(q=[0, .2, .8, 1.0], labels=[Low, Medium, High])``
(scripts/cdc_metrics_job.py:256-266) -- a driver-memory cliff at scale.

Native replacement: exact interpolated quantiles (same semantics as
pandas/DuckDB ``quantile_cont`` and Spark ``percentile``) for the cut
values, then right-closed CASE ranges matching qcut's ``(lo, hi]`` bins.
The exact cuts come from the distributed-ranking shape
(:func:`ranked_quantile_cuts`): range-bucketed order statistics with
bounded driver collects -- NOT from ``percentile``, whose aggregation
state buffers every value in a single reducer (an OOM at 100 TB). Distributed end-to-end; driver traffic is <= buckets split
points + <= buckets counts + <= 2 neighbor rows per cut.

The bucket count comes from the value count N that :func:`quantile_bucket`
observes on the checkpoint it runs anyway (``DataFrame.observe``): when N
is at most ``_ONE_BUCKET_MAX`` (and the window cap), one bucket holds every
row, so the split-point and counts jobs are skipped and one
partitioned-window job yields the order statistics.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def exact_quantile_cuts(df: DataFrame, value_col: str, probs: list[float]) -> DataFrame:
    """One-row frame of exact interpolated quantiles named q0..qN.

    Single-pass but SINGLE-STATE: ``percentile`` buffers every input value
    in one reducer's aggregation buffer -- fine for bounded frames, a
    straight OOM at billions of rows. The scale path with identical
    results is :func:`ranked_quantile_cuts`."""
    aggs = [
        F.expr(f"percentile({value_col}, {p!r})").alias(f"q{i}")
        for i, p in enumerate(probs)
    ]
    return df.agg(*aggs)


# A rank-holding bucket whose row count exceeds max(window_cap,
# _DOMINANT_FACTOR * uniform-share) is "dominant": heavy ties collapsed the
# approxQuantile boundaries under set(), so the partitioned row_number
# window would sort ~the whole input in ONE task. Such
# buckets are resolved without a window: a tied single-value bucket yields
# its value directly (any row IS the order statistic), anything else
# recurses the bucketing within the bucket. Depth-capped; the window path
# is the fallback.
_DOMINANT_FACTOR = 8
_MAX_RECURSE = 3


# The rows one window partition may sort when the caller sets no cap.
_WINDOW_CAP = 1_000_000

# The most values the exact path sorts in one window partition when it is
# handed N up front, skipping the split-point and counts jobs. Measured
# (quantile_bucket, two cuts, 4 vCPU, median of 5): one bucket beat the
# bucketed path at every size tried, 0.38 / 0.99 s at 10k values and
# 1.67 / 2.73 s at 1M on local[2], 1.30 / 2.44 s at 1M on local[4]. Sizes
# above 1M and wider clusters, where the bucketed sort spreads over more
# tasks, were not measured, so the bound stays at the largest size tried.
_ONE_BUCKET_MAX = 1_000_000


def _sql_double(x: float) -> str:
    """``x`` as a Spark SQL DOUBLE literal (``repr`` round-trips a float)."""
    x = float(x)
    return f"{x!r}D" if math.isfinite(x) else f"CAST('{x!r}' AS DOUBLE)"


def _order_statistics(
    base: DataFrame,
    need,
    buckets: int,
    rel_err: float,
    window_cap: int | None,
    depth: int = 0,
    total: int | None = None,
) -> tuple[dict[int, float], int]:
    """Values at 1-based ascending ranks of ``base.__v``, plus total N.

    ``need`` is either a set of ranks or a callable ``total -> set`` --
    the callable form lets the top-level caller derive its target ranks
    from N without a separate count() job (N falls out of the bucket
    counts this function collects anyway).

    ``total``, when the caller already knows N, sizes the bucketing: if
    N is at most ``_ONE_BUCKET_MAX`` and the window cap, one window
    partition sorts all of it, so there is one bucket and neither the
    split-point job nor the counts job runs -- one partitioned-window job
    yields the order statistics.

    Every job has bounded driver output: <= buckets-1 split points,
    <= 2*buckets+1 counts, one (min, max) row per dominant bucket, and
    <= len(need) neighbor rows from the window pass.

    Bucketing is TIE-ISOLATING: ``bucket = #(boundaries < v) +
    #(boundaries <= v)`` gives every boundary VALUE its own bucket (odd
    ids) between the open-interval buckets (even ids). Heavy ties collapse
    approxQuantile's split points onto the dominant value, so under the
    ordinary right-closed bucketing the dominant value shared a bucket
    with everything below it and re-bucketing could never separate them
    (zero recursion progress); isolated, a collapsed-boundary bucket is
    single-valued by construction and resolves from min==max."""
    import bisect

    one_bucket = total is not None and total <= min(
        _ONE_BUCKET_MAX, _WINDOW_CAP if window_cap is None else window_cap
    )
    if one_bucket:
        boundaries: list[float] = []
    else:
        qs = [i / max(buckets, 2) for i in range(1, max(buckets, 2))]
        boundaries = sorted(set(base.stat.approxQuantile("__v", qs, rel_err)))
    # bucket = #(boundaries < v) + #(boundaries <= v) = 2r + (v == bounds[r])
    # with r = #(boundaries < v), computed by a BALANCED WHEN-TREE binary
    # search: ~log2(|boundaries|) codegen'd comparisons per row. The
    # array-literal + higher-order-filter form this replaces evaluated
    # ~2*|boundaries| interpreted lambda calls per row OUTSIDE whole-stage
    # codegen (ArrayFilter is eval-based), and a flat when-SUM is linear in
    # the boundary count and codegen-split-sensitive -- the tree is the
    # only form that measured fastest on BOTH the heavy-tie (50 bounds,
    # lineitem qty) and continuous (63 bounds, event value) 10x columns.
    # It is built as one SQL string: one py4j call, where a Column tree
    # costs about four per boundary
    def _bucket_tree(lo: int, hi: int) -> str:
        # assumes r = #(boundaries < v) is in [lo, hi]
        if lo == hi:
            if lo < len(boundaries):
                return f"CASE WHEN __v = {_sql_double(boundaries[lo])} THEN {2 * lo + 1} ELSE {2 * lo} END"
            return str(2 * lo)
        mid = (lo + hi) // 2  # boundaries[mid] < v  <=>  r >= mid + 1
        return (
            f"CASE WHEN {_sql_double(boundaries[mid])} < __v"
            f" THEN {_bucket_tree(mid + 1, hi)} ELSE {_bucket_tree(lo, mid)} END"
        )

    b = F.expr(_bucket_tree(0, len(boundaries)))
    if one_bucket:
        counts = {0: total}
    else:
        counts = dict(base.select(b.alias("__rb")).groupBy("__rb").count().collect())
    offsets, acc = [], 0
    for i in range(2 * len(boundaries) + 1):
        offsets.append(acc)
        acc += int(counts.get(i, 0))
    total = acc
    if callable(need):
        need = need(total)
    if total == 0 or not need:
        return {}, total
    # global rank r lives in the last bucket whose offset is < r (equal
    # offsets mean empty buckets; bisect lands past them), at local rank
    # r - offsets[bucket]
    by_bucket: dict[int, dict[int, int]] = {}
    for r in need:
        bi = bisect.bisect_right(offsets, r - 1) - 1
        by_bucket.setdefault(bi, {})[r - offsets[bi]] = r
    # an EXPLICIT window_cap is a hard per-partition sort bound; the
    # default is the uniform bucket share with headroom (a bucket has to
    # be genuinely dominant, not just unlucky, to pay the extra jobs)
    cap = (
        window_cap
        if window_cap is not None
        else max(_WINDOW_CAP, _DOMINANT_FACTOR * total // max(buckets, 2))
    )
    val_at: dict[int, float] = {}
    window_buckets: dict[int, dict[int, int]] = {}
    dominant = [
        bi
        for bi in by_bucket
        if depth < _MAX_RECURSE and int(counts.get(bi, 0)) > cap
    ]
    # ONE grouped min/max job covers every dominant bucket (a per-bucket
    # agg would cost a full scan per tied value -- heavy-tie columns have
    # many)
    mm: dict[int, tuple[float, float]] = {}
    if dominant:
        mm = {
            row["__rb"]: (row["lo"], row["hi"])
            for row in (
                base.select(b.alias("__rb"), "__v")
                .where(F.col("__rb").isin(dominant))
                .groupBy("__rb")
                .agg(F.min("__v").alias("lo"), F.max("__v").alias("hi"))
                .collect()
            )
        }
    for bi, locs in by_bucket.items():
        if bi not in mm:
            window_buckets[bi] = locs
            continue
        lo, hi = mm[bi]
        if lo == hi:
            # boundary-collapsed tied bucket: every row is the same value,
            # so it IS the order statistic at every local rank (the
            # LIMIT-1 resolution; no sort of the dominant bucket at all)
            for r in locs.values():
                val_at[r] = lo
        else:
            inner, _ = _order_statistics(
                base.where(b == bi), set(locs), buckets, rel_err, window_cap, depth + 1
            )
            for lr, r in locs.items():
                val_at[r] = inner[lr]
    if window_buckets:
        w = Window.partitionBy("__rb").orderBy(F.col("__v").asc())
        sub = (
            base.select("__v", b.alias("__rb"))
            .where(F.col("__rb").isin(list(window_buckets)))
            .withColumn("__rr", F.row_number().over(w))
        )
        keep = None
        for bi, locs in window_buckets.items():
            c = (F.col("__rb") == bi) & F.col("__rr").isin(list(locs))
            keep = c if keep is None else (keep | c)
        for row in sub.where(keep).select("__rb", "__rr", "__v").collect():
            val_at[window_buckets[row["__rb"]][row["__rr"]]] = row["__v"]
    return val_at, total


def ranked_quantile_cuts(
    df: DataFrame,
    value_col: str,
    probs: list[float],
    buckets: int = 64,
    rel_err: float = 0.001,
    window_cap: int | None = None,
) -> list[float | None]:
    """Exact interpolated quantiles, bit-identical to Spark's
    ``percentile`` (and hence to the DuckDB ``quantile_cont`` oracles),
    computed with the distributed-ranking shape instead of percentile's
    single aggregation state.

    ``percentile()`` buffers EVERY input value in ONE reducer -- at 100 TB
    (billions of entity rows) that is a guaranteed OOM. Here every job has
    bounded driver output and buckets-way parallelism (the
    operators/ranking.py discipline):

    1. ``approxQuantile`` split points: <= buckets-1 doubles collected;
    2. per-range-bucket counts: <= buckets longs collected -> global rank
       offsets and total N via a driver prefix sum;
    3. the exact quantile at prob p is interpolated from the order
       statistics at 0-based positions floor/ceil(p*(N-1)); each maps to
       (bucket, bucket-local rank), so the job filters to ONLY the buckets
       holding target ranks, row_numbers within them (a PARTITIONED
       window), and keeps <= 2*len(probs) rows -- the third and last
       bounded collect;
    4. the driver interpolates with percentile's own formula
       ``(hi - pos) * v_lo + (pos - lo) * v_hi`` on IEEE doubles, so the
       returned cuts equal ``percentile(col, p)`` to the last bit (pinned
       against the built-in in test_quantile.py).

    NULL values are excluded (as ``percentile`` does); returns
    ``[None] * len(probs)`` on an all-NULL/empty input. Ties need no
    tiebreak: any rank assignment among equal values yields the same
    order statistic. Heavy-tie inputs (one value dominating the column,
    collapsing the approxQuantile boundaries) do NOT degenerate to a
    single-task window: dominant rank-holding buckets are resolved
    tie-aware or recursively re-bucketed (see :func:`_order_statistics`;
    ``window_cap`` bounds the rows any one window partition may sort)."""
    return _ranked_cuts(df, value_col, probs, buckets, rel_err, window_cap)


def _ranked_cuts(
    df: DataFrame,
    value_col: str,
    probs: list[float],
    buckets: int = 64,
    rel_err: float = 0.001,
    window_cap: int | None = None,
    count: int | None = None,
) -> list[float | None]:
    """:func:`ranked_quantile_cuts`, given ``count``: the non-NULL count of
    ``value_col`` cast to double, when the caller already knows it (it
    sizes the bucketing; see :func:`_order_statistics`)."""
    base = df.select(F.col(value_col).cast("double").alias("__v")).where(
        F.col("__v").isNotNull()
    )

    # percentile's positions: p * (N - 1), 0-based into the sorted values.
    # N is the caller's count, or _order_statistics takes it from its
    # bucket counts (the callable form) -- no separate count() job.
    def _need(total: int) -> set[int]:
        need: set[int] = set()
        for p in probs:
            position = p * (total - 1)
            need.update((math.floor(position) + 1, math.ceil(position) + 1))
        return need

    val_at, total = _order_statistics(base, _need, buckets, rel_err, window_cap, total=count)
    if total == 0:
        return [None] * len(probs)
    cuts: list[float | None] = []
    for p in probs:
        position = p * (total - 1)
        lo, hi = math.floor(position), math.ceil(position)
        v_lo = val_at[lo + 1]
        if hi == lo:
            cuts.append(v_lo)
        else:
            cuts.append((hi - position) * v_lo + (position - lo) * val_at[hi + 1])
    return cuts


def approx_quantile_cuts(
    df: DataFrame, value_col: str, probs: list[float], accuracy: int = 10_000
) -> DataFrame:
    """One-row frame of approx_percentile cuts named q0..qN.

    The 100 TB swap for ``exact_quantile_cuts`` (SCALE.md quantile row):
    exact ``percentile`` buffers every group value in the aggregation
    state, which is fine for the one-row-per-user LTV snapshot but not for
    billions of raw rows. ``approx_percentile`` keeps a bounded
    Greenwald-Khanna sketch instead; the returned cut is a REAL data value
    within ``1/accuracy`` relative RANK error (no interpolation), so
    bucket counts can drift by up to that rank fraction around each cut --
    agreement with the exact path on a fixture is pinned in
    test_quantile.py."""
    aggs = [
        F.expr(f"approx_percentile({value_col}, {p!r}, {int(accuracy)})").alias(f"q{i}")
        for i, p in enumerate(probs)
    ]
    return df.agg(*aggs)


def quantile_bucket(
    df: DataFrame,
    value_col: str,
    probs: list[float],
    labels: list[str],
    out_col: str = "BUCKET",
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Label rows by right-closed quantile bins: value <= q(probs[0]) ->
    labels[0], ... else labels[-1]. len(labels) == len(probs) + 1.

    Both paths materialize the input lineage ONCE (localCheckpoint) and
    label with LITERAL cut values, so the final plan is a pure scan-stage
    CASE -- no join at all, and no second lineage execution (under AQE
    each action compiles fresh query stages, so the old
    agg-then-crossJoin shape re-ran the whole upstream lineage for the
    labeling pass -- measured 4x slower than the checkpointed shape at
    the 100x bench point).

    The exact default computes its cuts with the distributed-ranking
    machinery (:func:`ranked_quantile_cuts` -- no single-reducer
    percentile buffer anywhere in the plan); the cuts are bit-identical
    to ``percentile``'s, so oracles keep matching DuckDB's
    ``quantile_cont``. ``exact=False`` swaps in the sketch-based
    ``approx_percentile`` (see approx_quantile_cuts): one
    mergeable-aggregate job over the checkpoint whose cut is a real data
    value within the sketch's rank error."""
    if len(labels) != len(probs) + 1:
        raise ValueError("need len(labels) == len(probs) + 1")
    # one materialization of the (possibly expensive) input lineage; the
    # cut computation and the labeled output all reuse it. On the exact
    # path it also observes the value count that sizes the bucketing.
    if exact:
        seen = Observation()
        n = F.count(F.col(value_col).cast("double")).alias("n")
        snap = df.observe(seen, n).localCheckpoint(eager=True)
        # only once the checkpoint has returned: get blocks until its
        # action reports
        cut_vals = _ranked_cuts(snap, value_col, probs, count=seen.get["n"])
    else:
        snap = df.localCheckpoint(eager=True)
        row = approx_quantile_cuts(snap, value_col, probs, accuracy).collect()[0]
        cut_vals = [row[f"q{i}"] for i in range(len(probs))]
    expr = None
    for i, c in enumerate(cut_vals):
        cond = F.col(value_col) <= F.lit(c).cast("double")
        expr = F.when(cond, labels[i]) if expr is None else expr.when(cond, labels[i])
    return snap.withColumn(out_col, expr.otherwise(labels[-1]))


def winsorize(
    df: DataFrame,
    value_col: str,
    lower: float = 0.01,
    upper: float = 0.99,
    group_cols: list[str] | None = None,
    out_col: str | None = None,
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Clip ``value_col`` to its [p_lower, p_upper] interpolated percentiles
    -- per group when ``group_cols`` is given -- the standard heavy-tail
    guard before means/regressions/feature scaling. Adds ``out_col``
    (default ``<value_col>_W``) plus the bounds used (LO_BOUND/HI_BOUND,
    rounded half-up to 6 dp so the clip thresholds are engine-exact).

    One percentile aggregation (per group; broadcast back -- group count is
    small by the usual dimension contract) and a scan-stage clamp; no
    second pass over the data. ``exact=False`` swaps the mergeable
    ``approx_percentile`` sketch for the bounds -- the 100 TB path when
    groups are huge (the clip then lands on a real data value within the
    sketch's rank error instead of an interpolated point)."""
    from .numeric import rhu

    out_col = out_col or f"{value_col}_W"
    group_cols = group_cols or []
    fn = "percentile" if exact else "approx_percentile"
    extra = "" if exact else f", {int(accuracy)}"
    bounds = df.groupBy(*group_cols).agg(
        rhu(F.expr(f"{fn}({value_col}, {lower!r}{extra})"), 6).alias("LO_BOUND"),
        rhu(F.expr(f"{fn}({value_col}, {upper!r}{extra})"), 6).alias("HI_BOUND"),
    )
    joined = (
        df.join(F.broadcast(bounds), group_cols)
        if group_cols
        else df.crossJoin(F.broadcast(bounds))
    )
    clipped = F.least(
        F.greatest(F.col(value_col), F.col("LO_BOUND")), F.col("HI_BOUND")
    )
    return joined.withColumn(out_col, clipped)
