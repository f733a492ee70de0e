"""Deterministic Poisson-bootstrap confidence intervals."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from aws_glue_cdc_metrics_job_spark.operators.stats import (
    bootstrap_mean_ci,
    poisson1_hex_thresholds,
)


def _py_weight(key: int, rep: int, seed: str) -> int:
    u = hashlib.md5(f"{key}|{rep}|{seed}".encode()).hexdigest()[:8]
    for k, thr in enumerate(poisson1_hex_thresholds()):
        if u < thr:
            return k
    return 7


def test_poisson_thresholds_are_the_poisson1_cdf():
    thr = poisson1_hex_thresholds()
    assert len(thr) == 7
    acc = 0.0
    for k, t in enumerate(thr):
        acc += math.exp(-1.0) / math.factorial(k)
        assert int(t, 16) == min(int(acc * 16**8), 16**8 - 1)
    # draws are Poisson-ish: P(0) ~ 1/e
    assert abs(int(thr[0], 16) / 16**8 - math.exp(-1)) < 1e-9


def test_bootstrap_ci_matches_python_replay(spark):
    vals = [float(v) for v in range(1, 41)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, value double"
    )
    b, seed = 50, "t"
    got = bootstrap_mean_ci(df, "value", ["k"], b=b, seed=seed).collect()[0]
    # python replay of the exact same draws -> same replicate means
    means = []
    for rep in range(b):
        ws = [_py_weight(i, rep, seed) for i in range(len(vals))]
        if sum(ws) > 0:
            m = sum(w * v for w, v in zip(ws, vals)) / sum(ws)
            means.append(math.floor(m * 1e6 + 0.5) / 1e6)
    means.sort()

    def q(p):
        idx = p * (len(means) - 1)
        lo, hi = int(math.floor(idx)), int(math.ceil(idx))
        v = means[lo] + (means[hi] - means[lo]) * (idx - lo)
        return math.floor(v * 1e6 + 0.5) / 1e6

    assert got["N_ROWS"] == 40 and got["MEAN"] == 20.5
    assert got["CI_LO"] == q(0.025) and got["CI_HI"] == q(0.975)
    assert got["CI_LO"] < got["MEAN"] < got["CI_HI"]
    # partitioning-independent: hostile repartition gives the identical row
    again = bootstrap_mean_ci(df.repartition(13), "value", ["k"], b=b, seed=seed).collect()[0]
    assert again == got


def test_bootstrap_ci_grouped(spark):
    rows = [(i, "a", 10.0) for i in range(50)] + [(i, "b", 5.0 + i % 3) for i in range(50, 120)]
    df = spark.createDataFrame(rows, "k long, g string, value double")
    out = {r["g"]: r for r in bootstrap_mean_ci(df, "value", ["k"], ["g"], b=60).collect()}
    # constant group: zero-width interval at the constant
    assert out["a"]["CI_LO"] == out["a"]["CI_HI"] == out["a"]["MEAN"] == 10.0
    assert out["b"]["CI_LO"] <= out["b"]["MEAN"] <= out["b"]["CI_HI"]
    assert out["b"]["CI_LO"] < out["b"]["CI_HI"]


class TestGroupedTrend:
    def test_matches_numpy_polyfit(self, spark):
        import numpy as np

        from aws_glue_cdc_metrics_job_spark.operators.stats import grouped_trend

        rows = []
        rng_x = list(range(12))
        for g, (a, b) in enumerate([(2.5, 10.0), (-1.25, 3.0)]):
            for x in rng_x:
                noise = ((x * 7919 + g * 104729) % 13 - 6) / 10.0
                rows.append((g, float(x), a * x + b + noise))
        df = spark.createDataFrame(rows, "g int, x double, y double")
        got = {r["g"]: r for r in grouped_trend(df, "x", "y", ["g"]).collect()}
        for g in (0, 1):
            xs = np.array([r[1] for r in rows if r[0] == g])
            ys = np.array([r[2] for r in rows if r[0] == g])
            slope, intercept = np.polyfit(xs, ys, 1)
            assert got[g]["N_POINTS"] == 12
            assert got[g]["SLOPE"] == pytest.approx(slope, abs=1e-5)
            assert got[g]["INTERCEPT"] == pytest.approx(intercept, abs=1e-5)
            r = np.corrcoef(xs, ys)[0, 1]
            assert got[g]["R2"] == pytest.approx(r * r, abs=1e-5)

    def test_degenerate_groups_null(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.stats import grouped_trend

        df = spark.createDataFrame(
            [(0, 1.0, 5.0), (1, 2.0, 1.0), (1, 2.0, 9.0), (2, 1.0, 4.0), (2, 2.0, 4.0)],
            "g int, x double, y double",
        )
        got = {r["g"]: r for r in grouped_trend(df, "x", "y", ["g"]).collect()}
        assert got[0]["SLOPE"] is None  # n < 2
        assert got[1]["SLOPE"] is None  # zero x-variance
        # constant y: slope 0, R2 NULL (zero y-variance)
        assert got[2]["SLOPE"] == 0.0 and got[2]["R2"] is None

    def test_partitioning_independent(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.stats import grouped_trend

        rows = [(0, float(i % 37), float((i * i) % 101) / 3.0) for i in range(500)]
        df1 = spark.createDataFrame(rows, "g int, x double, y double").repartition(1)
        df8 = spark.createDataFrame(rows, "g int, x double, y double").repartition(8)
        a = grouped_trend(df1, "x", "y", ["g"]).collect()[0]
        b = grouped_trend(df8, "x", "y", ["g"]).collect()[0]
        assert tuple(a) == tuple(b)


def test_bootstrap_fast_path_same_point_estimates(spark):
    rows = [(i, "a", float(i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, g string, value double")
    slow = bootstrap_mean_ci(df, "value", ["k"], group_cols=["g"], b=50, seed="s").collect()[0]
    fast = bootstrap_mean_ci(
        df, "value", ["k"], group_cols=["g"], b=50, seed="s", portable=False
    ).collect()[0]
    # point estimates are draw-independent and must agree exactly
    assert fast["N_ROWS"] == slow["N_ROWS"] and fast["MEAN"] == slow["MEAN"]
    # both intervals bracket the mean and are sane
    for r in (slow, fast):
        assert r["CI_LO"] <= r["MEAN"] <= r["CI_HI"]
    # deterministic: re-running the fast path reproduces the interval
    fast2 = bootstrap_mean_ci(
        df, "value", ["k"], group_cols=["g"], b=50, seed="s", portable=False
    ).collect()[0]
    assert (fast["CI_LO"], fast["CI_HI"]) == (fast2["CI_LO"], fast2["CI_HI"])


def test_grouped_trend_integral_y_widened(spark):
    """An integral y with |y| > 2147 must not overflow the int32 *1e6
    pre-scale (ADVICE r4: the x-side widening fix applied asymmetrically).
    Exact line: y = 5000*x -> slope exactly 5000."""
    import numpy as np

    from aws_glue_cdc_metrics_job_spark.operators.stats import grouped_trend

    rows = [(0, i, 5000 * i) for i in range(10)]
    df = spark.createDataFrame(rows, "g int, x int, y int")
    got = grouped_trend(df, "x", "y", ["g"]).collect()[0]
    xs = np.array([r[1] for r in rows], dtype=float)
    ys = np.array([r[2] for r in rows], dtype=float)
    slope, intercept = np.polyfit(xs, ys, 1)
    assert got["SLOPE"] == pytest.approx(slope, abs=1e-6)
    assert got["INTERCEPT"] == pytest.approx(intercept, abs=1e-6)
    assert got["R2"] == pytest.approx(1.0, abs=1e-9)


def test_cusum_closed_form_matches_recurrence(spark):
    """The window closed form (running sum minus running min) equals the
    textbook recurrence S_t = max(0, S_{t-1} + (x_t - k)) exactly,
    including negative deviations and multiple groups."""
    from aws_glue_cdc_metrics_job_spark.operators.stats import cusum_shifts

    series = {
        "a": [100, 90, 250, 260, 10, 400, 390],
        "b": [50, 50, 50, 50],
    }
    k, h = 120, 200
    rows = [(g, i, float(v)) for g, vals in series.items() for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, t int, x double")
    got = {
        (r["g"], r["t"]): (r["CUSUM_CENTS"], r["SHIFTED"])
        for r in cusum_shifts(df, ["g"], "t", "x", k * 100, h * 100, scale=2).collect()
    }
    for g, vals in series.items():
        s = 0
        for t, v in enumerate(vals):
            s = max(0, s + (v * 100 - k * 100))
            assert got[(g, t)] == (s, s > h * 100), (g, t)


def test_cusum_partitioning_invariance(spark):
    from aws_glue_cdc_metrics_job_spark.operators.stats import cusum_shifts

    rows = [("g", i, float((i * 37) % 113)) for i in range(500)]
    df = spark.createDataFrame(rows, "g string, t int, x double")
    a = sorted(map(tuple, cusum_shifts(df.coalesce(1), ["g"], "t", "x", 5000, 9000).collect()))
    b = sorted(map(tuple, cusum_shifts(df.repartition(11), ["g"], "t", "x", 5000, 9000).collect()))
    assert a == b


# --- round-6b: Gini decision-stump split scoring ----------------------------


def test_gini_split_perfect_separator(spark):
    from aws_glue_cdc_metrics_job_spark.operators.stats import gini_split_candidates

    # feature < 5.0 is all negative, >= 5.0 all positive: the best split
    # recovers ~the full parent impurity (2 * 0.5 * 0.5 = 500000 ppm)
    rows = [(float(v), v >= 5.0) for v in range(10)]
    df = spark.createDataFrame(rows, "value double, y boolean")
    out = gini_split_candidates(df, "value", F.col("y"), bins=8, decimals=2).collect()
    best = max(out, key=lambda r: (r["GAIN_PPM"], -r["SPLIT_BIN"]))
    assert best["GAIN_PPM"] >= 499_000  # parent gini minus ppm flooring
    assert best["N_LEFT"] == 5 and best["POS_LEFT"] == 0
    assert best["N_RIGHT"] == 5 and best["POS_RIGHT"] == 5
    # threshold sits on the centi lattice between 4.00 and 5.00
    assert 400 <= best["THRESHOLD_LATTICE"] < 500
    # no split can beat the parent impurity
    assert all(r["GAIN_PPM"] <= 500_000 for r in out)


def test_gini_split_no_signal_and_degenerate(spark):
    from aws_glue_cdc_metrics_job_spark.operators.stats import gini_split_candidates

    # label independent of feature: every gain is ~0 (flooring may dip
    # slightly negative)
    rows = [(float(v), v % 2 == 0) for v in range(100)]
    df = spark.createDataFrame(rows, "value double, y boolean")
    out = gini_split_candidates(df, "value", F.col("y"), bins=4).collect()
    assert out and all(abs(r["GAIN_PPM"]) < 30_000 for r in out)

    # constant feature: everything lands in bin 0 -> no valid split
    const = spark.createDataFrame([(1.0, True), (1.0, False)], "value double, y boolean")
    assert gini_split_candidates(const, "value", F.col("y")).count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        gini_split_candidates(df, "value", F.col("y"), bins=1)


def test_gini_split_null_feature_rows_excluded(spark):
    from aws_glue_cdc_metrics_job_spark.operators.stats import gini_split_candidates

    rows = [(1.0, True), (2.0, False), (None, True), (3.0, True), (4.0, False)]
    df = spark.createDataFrame(rows, "value double, y boolean")
    out = gini_split_candidates(df, "value", F.col("y"), bins=4).collect()
    assert all(r["N_LEFT"] + r["N_RIGHT"] == 4 for r in out)


def test_gini_threshold_reproduces_left_counts(spark):
    """THRESHOLD_LATTICE is the left child's INCLUSIVE upper bound: applying
    `vc <= THRESHOLD_LATTICE` must reproduce N_LEFT/POS_LEFT exactly for
    every candidate (ADVICE r6: the old floor formula excluded the bin's top
    lattice value whenever bins did not divide (b+1)*R)."""
    import math

    from aws_glue_cdc_metrics_job_spark.operators.stats import gini_split_candidates

    rows = [(round(((i * 53) % 97) / 9.0, 3), (i * 7) % 5 < 2) for i in range(300)]
    df = spark.createDataFrame(rows, "value double, y boolean")
    bins = 64  # deliberately not dividing most (b+1)*R values
    out = gini_split_candidates(df, "value", F.col("y"), bins=bins, decimals=2).collect()
    assert out
    vcs = [(math.floor(v * 100 + 0.5), y) for v, y in rows]
    for r in out:
        nl = sum(1 for v, _ in vcs if v <= r["THRESHOLD_LATTICE"])
        pl = sum(1 for v, y in vcs if v <= r["THRESHOLD_LATTICE"] and y)
        assert (nl, pl) == (r["N_LEFT"], r["POS_LEFT"]), r["SPLIT_BIN"]


@pytest.mark.slow
def test_gini_split_matches_brute_force_replay(spark):
    """Pure-Python replay of the full lattice pipeline (centi rounding,
    equi-width binning, prefix sums, ppm gain) on a deterministic
    pseudo-random sample -- every row of the candidate table must match."""
    rows = [
        (round(((i * 37) % 100) / 7.0, 3), (i * 13) % 3 == 0) for i in range(500)
    ]
    bins = 16
    df = spark.createDataFrame(rows, "value double, y boolean")
    from aws_glue_cdc_metrics_job_spark.operators.stats import gini_split_candidates

    got = {
        r["SPLIT_BIN"]: (
            r["THRESHOLD_LATTICE"], r["N_LEFT"], r["POS_LEFT"],
            r["N_RIGHT"], r["POS_RIGHT"], r["GAIN_PPM"],
        )
        for r in gini_split_candidates(df, "value", F.col("y"), bins=bins).collect()
    }

    import math

    vcs = [(math.floor(v * 100 + 0.5), y) for v, y in rows]
    lo, hi = min(v for v, _ in vcs), max(v for v, _ in vcs)
    cells = {}
    for v, y in vcs:
        b = (v - lo) * bins // (hi - lo + 1)
        n, p = cells.get(b, (0, 0))
        cells[b] = (n + 1, p + (1 if y else 0))
    nt = sum(n for n, _ in cells.values())
    pt = sum(p for _, p in cells.values())

    def g(p, n):
        pr = p * 1_000_000 // n
        return 2 * pr * (1_000_000 - pr) // 1_000_000

    want = {}
    nl = pl = 0
    for b in sorted(cells):
        n, p = cells[b]
        nl, pl = nl + n, pl + p
        if 0 < nl < nt:
            gain = (
                g(pt, nt)
                - (nl * 1_000_000 // nt) * g(pl, nl) // 1_000_000
                - ((nt - nl) * 1_000_000 // nt) * g(pt - pl, nt - nl) // 1_000_000
            )
            want[b] = (
                lo + ((b + 1) * (hi - lo + 1) - 1) // bins,
                nl, pl, nt - nl, pt - pl, gain,
            )
    assert got == want


# --- round 7: precision/recall threshold sweep -------------------------------


def test_pr_curve_matches_brute_force(spark):
    from aws_glue_cdc_metrics_job_spark.operators.stats import pr_curve

    rows = [(float((i * 37) % 50), (i * 13) % 3 == 0) for i in range(200)]
    rows += [(None, True), (5.0, None)]  # NULL score / label excluded
    df = spark.createDataFrame(rows, "score double, y boolean")
    qs = [2500, 5000, 7500]
    got = {r["Q_BP"]: r for r in pr_curve(df, "score", F.col("y"), qs).collect()}

    clean = [(s, bool(y)) for s, y in rows if s is not None and y is not None]
    vals, n = sorted(s for s, _ in clean), len(clean)
    pos = sum(1 for _, y in clean if y)
    for q in qs:
        thr = vals[max(1, -((-q * n) // 10000)) - 1]  # rank ceil(q*n/1e4)
        tp = sum(1 for s, y in clean if s >= thr and y)
        pp = sum(1 for s, _ in clean if s >= thr)
        r = got[q]
        assert r["THRESHOLD"] == thr
        assert (r["TP"], r["FP"], r["FN"]) == (tp, pp - tp, pos - tp)
        prec = tp * 10**6 // pp if pp else 0
        rec = tp * 10**6 // pos if pos else 0
        assert r["PRECISION_PPM"] == prec and r["RECALL_PPM"] == rec
        assert r["F1_PPM"] == ((2 * prec * rec) // (prec + rec) if prec + rec else 0)


def test_pr_curve_zero_positive_guard(spark):
    from aws_glue_cdc_metrics_job_spark.operators.stats import pr_curve

    df = spark.createDataFrame([(1.0, False), (2.0, False)], "score double, y boolean")
    out = pr_curve(df, "score", F.col("y"), [5000]).collect()
    assert out[0]["RECALL_PPM"] == 0 and out[0]["TP"] == 0


# --- round 8b: Mann-Whitney, Nelson-Aalen, drift, seasonal decomposition


class TestMannWhitney:
    def test_matches_brute_force_pair_count(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.stats import mann_whitney_u

        import random

        rng = random.Random(7)
        rows = [("a", round(rng.uniform(0, 5), 2)) for _ in range(80)] + [
            ("b", round(rng.uniform(1, 6), 2)) for _ in range(60)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        got = mann_whitney_u(df, "v", "g", "a", "b", decimals=2, buckets=8).collect()[0]
        lat = [(g, int(math.floor(v * 100 + 0.5))) for g, v in rows]
        a = [v for g, v in lat if g == "a"]
        b = [v for g, v in lat if g == "b"]
        u_x2 = sum(2 for x in a for y in b if x > y) + sum(
            1 for x in a for y in b if x == y
        )
        assert got["N_A"] == len(a) and got["N_B"] == len(b)
        assert got["U_A_X2"] == u_x2
        assert got["U_B_X2"] == 2 * len(a) * len(b) - u_x2
        assert got["AUC_PPM"] == (u_x2 * 10**6) // (2 * len(a) * len(b))
        assert got["TIED_VALUES"] == len(set(a) & set(b))

    def test_all_tied_gives_half_auc(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.stats import mann_whitney_u

        df = spark.createDataFrame(
            [("a", 2.0)] * 5 + [("b", 2.0)] * 3, "g string, v double"
        )
        got = mann_whitney_u(df, "v", "g", "a", "b").collect()[0]
        assert got["U_A_X2"] == 5 * 3  # every pair a half-tie
        assert got["AUC_PPM"] == 500000
        assert got["TIED_VALUES"] == 1

    def test_partitioning_invariant_and_null_excluded(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.stats import mann_whitney_u

        rows = [("a", float(i % 13)) for i in range(50)] + [
            ("b", float(i % 7)) for i in range(40)
        ] + [("a", None), ("c", 99.0)]
        df = spark.createDataFrame(rows, "g string, v double")
        one = mann_whitney_u(df, "v", "g", "a", "b", buckets=4).collect()[0]
        two = mann_whitney_u(
            df.repartition(17), "v", "g", "a", "b", buckets=64
        ).collect()[0]
        assert one == two
        assert one["N_A"] == 50 and one["N_B"] == 40  # NULL + other group dropped


class TestNelsonAalen:
    def test_textbook_curve(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.stats import nelson_aalen

        # durations (t, observed): risk sets 5,4,3 at t=1,2,3
        rows = [(1, 1), (2, 0), (3, 1), (3, 1), (5, 0)]
        df = spark.createDataFrame(rows, "dur long, obs int")
        out = {r["T"]: r for r in nelson_aalen(df, "dur", "obs").collect()}
        assert sorted(out) == [1, 3]  # censored-only times excluded
        assert out[1]["AT_RISK"] == 5 and out[1]["EVENTS"] == 1
        assert out[1]["HAZARD_PPM"] == 10**6 // 5
        assert out[3]["AT_RISK"] == 3 and out[3]["EVENTS"] == 2
        assert out[3]["HAZARD_PPM"] == 2 * 10**6 // 3
        assert out[3]["CUM_HAZARD_PPM"] == 10**6 // 5 + 2 * 10**6 // 3
        assert out[3]["CENSORED"] == 0

    def test_censoring_shrinks_risk_set_without_hazard(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.stats import nelson_aalen

        rows = [(1, 0), (1, 0), (2, 1), (2, 0)]
        df = spark.createDataFrame(rows, "dur long, obs int")
        out = nelson_aalen(df, "dur", "obs").collect()
        assert len(out) == 1
        r = out[0]
        # two censored at t=1 left before t=2's event; one censored AT t=2
        assert r["T"] == 2 and r["AT_RISK"] == 2 and r["CENSORED"] == 1
        assert r["HAZARD_PPM"] == 500000 == r["CUM_HAZARD_PPM"]


class TestDistributionDrift:
    def test_identical_slices_report_zero_drift(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.stats import distribution_drift

        rows = [(float(i % 10), (i // 10) % 2) for i in range(200)]
        df = spark.createDataFrame(rows, "v double, cur int")
        out = distribution_drift(df, "v", F.col("cur") == 1, bins=8).collect()
        assert all(r["DIFF_PPM"] == 0 for r in out)
        assert out[0]["TVD_PPM"] == 0 and out[0]["CHI2_PPM"] == 0

    def test_disjoint_slices_hit_full_tvd(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.stats import distribution_drift

        rows = [(1.0, 0)] * 50 + [(100.0, 1)] * 50
        df = spark.createDataFrame(rows, "v double, cur int")
        out = distribution_drift(df, "v", F.col("cur") == 1, bins=4).collect()
        assert out[0]["TVD_PPM"] == 10**6
        lo = [r for r in out if r["N_REF"] > 0][0]
        hi = [r for r in out if r["N_CUR"] > 0][0]
        assert lo["P_PPM"] == 10**6 and lo["Q_PPM"] == 0
        assert hi["Q_PPM"] == 10**6 and hi["P_PPM"] == 0

    def test_empty_slice_reports_null_not_divide_error(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.stats import distribution_drift

        # every row is reference: the current slice's total is 0
        rows = [(float(i % 10), 0) for i in range(40)]
        df = spark.createDataFrame(rows, "v double, cur int")
        out = distribution_drift(df, "v", F.col("cur") == 1, bins=4).collect()
        assert sum(r["N_REF"] for r in out) == 40
        assert all(r["N_CUR"] == 0 and r["Q_PPM"] is None for r in out)
        assert sum(r["P_PPM"] for r in out) == 10**6
        assert all(r[c] is None for r in out for c in ("DIFF_PPM", "TVD_PPM", "CHI2_PPM"))


class TestSeasonalDecompose:
    def test_pure_weekly_signal_recovered_exactly(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.stats import (
            seasonal_decompose_daily,
        )

        from datetime import date, timedelta

        base, offsets = 10000, [700, -700, 1400, -1400, 2100, -2100, 0]
        start = date(2024, 1, 1)  # a Monday: weekday(day) == (i % 7)
        rows = [
            (start + timedelta(days=i), base + offsets[i % 7]) for i in range(28)
        ]
        df = spark.createDataFrame(rows, "day date, cents long")
        out = seasonal_decompose_daily(df, "day", "cents").collect()
        assert len(out) == 28
        for i, r in enumerate(sorted(out, key=lambda r: r["DAY"])):
            if i < 3 or i >= 25:  # centered window incomplete at edges
                assert r["TREND_CENTS"] is None and r["SEASONAL_CENTS"] is None
            else:
                # offsets sum to 0 -> any 7 consecutive average to base
                assert r["TREND_CENTS"] == base
                assert r["SEASONAL_CENTS"] == offsets[i % 7]
                assert r["REMAINDER_CENTS"] == 0

    def test_even_period_rejected(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.stats import (
            seasonal_decompose_daily,
        )

        df = spark.createDataFrame([(1, 1)], "day long, cents long")
        with pytest.raises(ValueError, match="odd"):
            seasonal_decompose_daily(df, "day", "cents", period=4)


class TestCalibrationBins:
    def test_perfectly_calibrated_scores(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.stats import calibration_bins

        # scores 0.005..0.995 uniform; label = deterministic per-score
        # pattern hitting the score's own rate within each decile
        rows = []
        for i in range(1000):
            s = (i % 100) / 100 + 0.005
            rows.append((s, 1 if (i % 100) >= 50 else 0))  # p(pos)=0.5 overall
        df = spark.createDataFrame(rows, "s double, y int")
        out = calibration_bins(df, "s", F.col("y") == 1, bins=2).collect()
        assert len(out) == 2
        lo, hi = sorted(out, key=lambda r: r["BIN"])
        # scores 0.005-0.495 are all label 0; 0.505-0.995 all label 1
        assert lo["OBS_POS_PPM"] == 0 and hi["OBS_POS_PPM"] == 10**6
        assert lo["N"] == hi["N"] == 500
        assert out[0]["ECE_PPM"] == (
            lo["N"] * abs(lo["GAP_PPM"]) + hi["N"] * abs(hi["GAP_PPM"])
        ) // (lo["N"] + hi["N"])

    def test_gap_sign_and_null_exclusion(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.stats import calibration_bins

        rows = [(0.9, 0)] * 10 + [(0.1, 1)] * 10 + [(None, 1), (0.5, None)]
        df = spark.createDataFrame(rows, "s double, y int")
        out = calibration_bins(
            df, "s", F.when(F.col("y").isNotNull(), F.col("y") == 1), bins=2
        ).collect()
        assert sum(r["N"] for r in out) == 20  # both NULL rows excluded
        lo = [r for r in out if r["BIN"] == 0][0]
        hi = [r for r in out if r["BIN"] == 1][0]
        assert lo["GAP_PPM"] > 0  # under-confident: observed 100% vs low pred
        assert hi["GAP_PPM"] < 0  # over-confident


class TestTargetEncode:
    def test_m_estimate_shrinkage(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.stats import target_encode

        rows = [("a", 1)] * 8 + [("a", 0)] * 2 + [("b", 1)] * 1 + [("b", 0)] * 1
        df = spark.createDataFrame(rows, "c string, y int")
        out = {r["c"]: r for r in target_encode(df, "c", F.col("y") == 1, m=10).collect()}
        g = (9 * 10**6) // 12
        assert out["a"]["GLOBAL_PPM"] == g == out["b"]["GLOBAL_PPM"]
        assert out["a"]["RAW_PPM"] == 800000 and out["b"]["RAW_PPM"] == 500000
        assert out["a"]["SMOOTHED_PPM"] == (8 * 10**6 + 10 * g) // 20
        assert out["b"]["SMOOTHED_PPM"] == (1 * 10**6 + 10 * g) // 12
        # shrinkage: the rare category moves further toward global
        assert abs(out["b"]["SMOOTHED_PPM"] - g) < abs(out["b"]["RAW_PPM"] - g)

    def test_null_labels_excluded_null_category_kept(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.stats import target_encode

        rows = [("a", 1), ("a", None), (None, 1), (None, 0)]
        df = spark.createDataFrame(rows, "c string, y int")
        out = target_encode(
            df, "c", F.when(F.col("y").isNotNull(), F.col("y") == 1), m=0
        ).collect()
        by = {r["c"]: r for r in out}
        assert by["a"]["N"] == 1  # NULL label dropped
        assert by[None]["N"] == 2 and by[None]["RAW_PPM"] == 500000


class TestMadAnomalies:
    def test_flags_only_the_spike(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.stats import mad_anomalies

        vals = [100, 102, 98, 101, 99, 103, 97, 100, 1000]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "k long, v long"
        )
        out = {r["k"]: r for r in mad_anomalies(df, "k", "v", k=3).collect()}
        s = sorted(vals)
        med = s[(len(s) + 1) // 2 - 1]
        assert out[0]["MEDIAN"] == med == 100
        ads = sorted(abs(v - med) for v in vals)
        assert out[0]["MAD"] == ads[(len(ads) + 1) // 2 - 1] == 2
        assert out[8]["IS_ANOMALY"] == 1
        assert sum(r["IS_ANOMALY"] for r in out.values()) == 1

    def test_degenerate_constant_series_flags_nothing(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.stats import mad_anomalies

        df = spark.createDataFrame([(i, 7) for i in range(5)], "k long, v long")
        out = mad_anomalies(df, "k", "v").collect()
        assert all(r["MAD"] == 0 and r["IS_ANOMALY"] == 0 for r in out)


class TestCorrelationPairs:
    def test_matches_numpy_corrcoef(self, spark):
        import numpy as np

        from aws_glue_cdc_metrics_job_spark.operators.stats import correlation_pairs

        rows = []
        for i in range(60):
            x = float(i)
            y = 2.5 * i + ((i * 7919) % 13 - 6) / 4.0
            z = -1.0 * i + ((i * 104729) % 11 - 5) / 3.0
            rows.append((x, y, z))
        df = spark.createDataFrame(rows, "x double, y double, z double")
        out = {
            (r["COL_A"], r["COL_B"]): r
            for r in correlation_pairs(df, ["x", "y", "z"]).collect()
        }
        arr = np.array(rows)
        for (a, ia), (b, ib) in [
            (("x", 0), ("y", 1)), (("x", 0), ("z", 2)), (("y", 1), ("z", 2)),
        ]:
            r_np = np.corrcoef(arr[:, ia], arr[:, ib])[0, 1]
            # lattice quantization at 1e-6 keeps r within ~1e-5 of numpy
            assert abs(out[(a, b)]["R_PPM"] / 1e6 - r_np) < 1e-4
            assert out[(a, b)]["N"] == 60
        assert out[("x", "y")]["R_PPM"] > 990000   # strongly positive
        assert out[("x", "z")]["R_PPM"] < -990000  # strongly negative

    def test_degenerate_and_null_rows(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.stats import correlation_pairs

        rows = [(1.0, 5.0, 1.0), (2.0, 5.0, 2.0), (3.0, 5.0, None)]
        df = spark.createDataFrame(rows, "x double, c double, z double")
        out = {
            (r["COL_A"], r["COL_B"]): r
            for r in correlation_pairs(df, ["x", "c", "z"]).collect()
        }
        # the NULL-z row is excluded everywhere (matched-pairs N)
        assert all(r["N"] == 2 for r in out.values())
        assert out[("x", "c")]["R_PPM"] is None   # zero variance in c
        assert out[("x", "z")]["R_PPM"] == 10**6  # perfectly collinear

    def test_partitioning_independent(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.stats import correlation_pairs

        rows = [(float(i % 17), float((i * i) % 23)) for i in range(400)]
        a = correlation_pairs(
            spark.createDataFrame(rows, "x double, y double").repartition(1),
            ["x", "y"],
        ).collect()
        b = correlation_pairs(
            spark.createDataFrame(rows, "x double, y double").repartition(16),
            ["x", "y"],
        ).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_validation(self, spark):
        import pytest

        from aws_glue_cdc_metrics_job_spark.operators.stats import correlation_pairs

        df = spark.createDataFrame([(1.0,)], "x double")
        with pytest.raises(ValueError):
            correlation_pairs(df, ["x"])
