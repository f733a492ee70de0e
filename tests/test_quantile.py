"""Exact-quantile bucketing vs pandas qcut (SURVEY.md Q1, the reference's
pd.qcut at scripts/cdc_metrics_job.py:256-266)."""

import threading

import pandas as pd
import pytest

from aws_glue_cdc_metrics_job_spark.functions.quantile import (
    exact_quantile_cuts,
    quantile_bucket,
)


@pytest.fixture(scope="module")
def values():
    # deterministic, includes duplicates and an uneven spread
    return [float(v) for v in [1, 2, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 233, 1000]]


def test_cuts_match_pandas_interpolation(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "x double")
    cuts = exact_quantile_cuts(df, "x", [0.2, 0.8]).collect()[0]
    expected = pd.Series(values).quantile([0.2, 0.8], interpolation="linear")
    assert cuts["q0"] == pytest.approx(expected.iloc[0])
    assert cuts["q1"] == pytest.approx(expected.iloc[1])


def test_buckets_match_qcut(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "x double")
    got = {
        r["x"]: r["CLV"]
        for r in quantile_bucket(df, "x", [0.2, 0.8], ["Low", "Medium", "High"], "CLV").collect()
    }
    expected = dict(
        zip(values, pd.qcut(pd.Series(values), q=[0, 0.2, 0.8, 1.0], labels=["Low", "Medium", "High"]))
    )
    assert got == expected


def test_approx_buckets_bounded_drift_vs_exact(spark, values):
    # The scale path (exact=False): approx_percentile returns a REAL data
    # value (rank-based, no interpolation), so labels may legitimately
    # differ from the exact interpolated path -- but ONLY for values lying
    # between the exact and approx cut for the same bin edge. Anything
    # outside those slivers must agree.
    from aws_glue_cdc_metrics_job_spark.functions.quantile import approx_quantile_cuts

    df = spark.createDataFrame([(v,) for v in values], "x double")
    probs, labels = [0.2, 0.8], ["Low", "Medium", "High"]
    exact = {
        r["x"]: r["CLV"]
        for r in quantile_bucket(df, "x", probs, labels, "CLV").collect()
    }
    approx = {
        r["x"]: r["CLV"]
        for r in quantile_bucket(df, "x", probs, labels, "CLV", exact=False).collect()
    }
    e = exact_quantile_cuts(df, "x", probs).collect()[0]
    a = approx_quantile_cuts(df, "x", probs).collect()[0]
    slivers = [
        (min(e[f"q{i}"], a[f"q{i}"]), max(e[f"q{i}"], a[f"q{i}"]))
        for i in range(len(probs))
    ]
    disagreements = {v for v in exact if exact[v] != approx[v]}
    for v in disagreements:
        assert any(lo < v <= hi or lo <= v < hi for lo, hi in slivers), (
            f"value {v} changed bucket ({exact[v]} -> {approx[v]}) but lies in "
            f"no exact-vs-approx cut sliver {slivers}"
        )
    # and the drift must not be total: most values agree
    assert len(disagreements) < len(values) / 2


def test_ranked_cuts_bit_identical_to_percentile(spark, values):
    """ranked_quantile_cuts must equal the built-in percentile() to the
    LAST BIT (VERDICT r6 item 1: same oracles, no single-reducer buffer) --
    hostile inputs: irrational spreads, heavy ties, tiny N, exact-rank
    probs (frac == 0), negatives."""
    import math

    from aws_glue_cdc_metrics_job_spark.functions.quantile import _ranked_cuts, ranked_quantile_cuts

    cases = [
        values,
        [math.sqrt(i) * 1e3 + 1 / 7 for i in range(1, 48)],
        [1.0] * 9 + [2.0] * 3 + [-5.5] * 4,  # heavy ties + negatives
        [42.0],  # N = 1
        [3.0, 1.0],  # N = 2
        [0.1 * i for i in range(11)],  # frac == 0 at p in {0.2, 0.8}
    ]
    probs = [0.0, 0.2, 0.37, 0.5, 0.8, 1.0]
    for i, vals in enumerate(cases):
        df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(5)
        want = list(exact_quantile_cuts(df, "x", probs).collect()[0])
        got = ranked_quantile_cuts(df, "x", probs, buckets=4)
        assert got == want, f"case {i}: {got} != {want}"
        # one bucket, sized from a known count
        got = _ranked_cuts(df, "x", probs, buckets=4, count=len(vals))
        assert got == want, f"case {i}, one bucket: {got} != {want}"


def test_ranked_cuts_null_and_empty(spark):
    from aws_glue_cdc_metrics_job_spark.functions.quantile import ranked_quantile_cuts

    df = spark.createDataFrame([(None,), (1.0,), (None,), (3.0,)], "x double")
    # NULLs excluded, like percentile()
    assert ranked_quantile_cuts(df, "x", [0.5]) == [2.0]
    empty = spark.createDataFrame([], "x double")
    assert ranked_quantile_cuts(empty, "x", [0.2, 0.8]) == [None, None]
    # all-NULL behaves like empty, and quantile_bucket then labels
    # everything with the last label (NULL <= NULL cut is never true)
    nulls = spark.createDataFrame([(None,), (None,)], "x double")
    assert ranked_quantile_cuts(nulls, "x", [0.5]) == [None]
    out = quantile_bucket(nulls, "x", [0.5], ["lo", "hi"], "B").collect()
    assert [r["B"] for r in out] == ["hi", "hi"]


def test_exact_bucket_plan_has_no_join(spark, values):
    """The exact path labels with LITERAL cuts over a checkpointed input:
    the executed plan must contain no join of any kind (the old shape
    cross-joined a 1-row cut frame, re-expanding the input lineage)."""
    df = spark.createDataFrame([(v,) for v in values], "x double")
    out = quantile_bucket(df, "x", [0.2, 0.8], ["Low", "Medium", "High"], "CLV")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:2000]


def test_label_arity_validated(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "x double")
    with pytest.raises(ValueError):
        quantile_bucket(df, "x", [0.5], ["a", "b", "c"])


def test_winsorize_grouped_clip(spark):
    from aws_glue_cdc_metrics_job_spark.functions.quantile import winsorize

    rows = [("a", float(v)) for v in range(1, 101)] + [("b", 1000.0), ("b", 2000.0), ("b", 3000.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = winsorize(df, "v", lower=0.05, upper=0.95, group_cols=["g"])
    a = [r for r in out.collect() if r["g"] == "a"]
    # bounds are the interpolated p05/p95 of 1..100
    assert a[0]["LO_BOUND"] == 5.95 and a[0]["HI_BOUND"] == 95.05
    vals = sorted(r["v_W"] for r in a)
    assert vals[0] == 5.95 and vals[-1] == 95.05
    assert vals[10] == 11.0  # interior values untouched
    b = {r["v"]: r["v_W"] for r in out.collect() if r["g"] == "b"}
    assert b[1000.0] == 1100.0 and b[3000.0] == 2900.0  # p05/p95 of 3 points
    # approx path agrees on the fixture within the sketch contract (real data values)
    approx = winsorize(df, "v", lower=0.05, upper=0.95, group_cols=["g"], exact=False)
    arow = [r for r in approx.collect() if r["g"] == "a"][0]
    assert 1 <= arow["LO_BOUND"] <= 11 and 90 <= arow["HI_BOUND"] <= 100


def test_ranked_cuts_heavy_ties_avoid_dominant_window(spark, monkeypatch):
    """ADVICE r7 (medium): a column dominated by ONE value collapses the
    approxQuantile boundaries under set(), so the rank-holding bucket held
    ~all N rows and the partitioned row_number window sorted them in a
    single task. Dominant buckets must now resolve WITHOUT windowing the
    whole input: tied buckets answer from min==max, mixed dominant buckets
    recurse the bucketing. Results stay bit-identical to percentile()."""
    from aws_glue_cdc_metrics_job_spark.functions import quantile as q

    calls: list[int] = []
    real = q._order_statistics

    def spy(base, need, buckets, rel_err, window_cap, depth=0, **kwargs):
        calls.append(depth)
        return real(base, need, buckets, rel_err, window_cap, depth, **kwargs)

    monkeypatch.setattr(q, "_order_statistics", spy)

    probs = [0.0, 0.2, 0.5, 0.8, 0.95, 1.0]
    # 95% of rows are the single value 7.0 -> every interior boundary
    # collapses to 7.0; the tie-isolating bucketing must give 7.0 its OWN
    # single-valued bucket, resolved from min==max with no window over it
    # (no window partition may sort more than window_cap rows: any window
    # over the 1900-row tied bucket would violate the cap, which we pin by
    # asserting no recursion was even needed)
    tied = [7.0] * 1900 + [float(i) for i in range(100)]
    df = spark.createDataFrame([(v,) for v in tied], "x double").repartition(8)
    got = q.ranked_quantile_cuts(df, "x", probs, buckets=4, window_cap=128)
    want = list(exact_quantile_cuts(df, "x", probs).collect()[0])
    assert got == want
    # the tied dominant bucket resolved via min==max, not recursion
    assert calls == [0]

    # two interleaved heavy values: BOTH isolate as boundary-value buckets
    # (min==max), still no recursion, still bit-identical
    calls.clear()
    mixed = [3.0] * 900 + [4.0] * 900 + [float(i) * 100 for i in range(40)]
    df2 = spark.createDataFrame([(v,) for v in mixed], "x double").repartition(8)
    got2 = q.ranked_quantile_cuts(df2, "x", probs, buckets=4, window_cap=64)
    want2 = list(exact_quantile_cuts(df2, "x", probs).collect()[0])
    assert got2 == want2
    assert calls == [0]

    # a DENSE dominant open-interval bucket (many distinct values, more
    # rows than the cap) cannot answer from min==max -> it must recurse
    # the bucketing within the bucket rather than window it whole
    calls.clear()
    dense = [float(i) for i in range(1000)]
    df3 = spark.createDataFrame([(v,) for v in dense], "x double").repartition(8)
    got3 = q.ranked_quantile_cuts(df3, "x", probs, buckets=2, window_cap=8)
    want3 = list(exact_quantile_cuts(df3, "x", probs).collect()[0])
    assert got3 == want3
    assert max(calls) >= 1  # recursion engaged for the dense dominant bucket


# Spark jobs quantile_bucket starts on a repartitioned frame below the
# window cap, as measured: the input's shuffle and the checkpoint (which
# observes the value count), then the window's shuffle and its collect.
# The split-point and counts jobs are skipped; with them it took 7.
BELOW_CAP_JOBS = 4


def test_bucket_below_cap_skips_split_and_count_jobs(spark):
    import random

    rng = random.Random(3)
    vals = [round(rng.lognormvariate(3, 1), 4) for _ in range(500)]
    df = spark.createDataFrame(list(enumerate(vals)), "u int, x double").repartition(4)
    sc = spark.sparkContext
    sc.setJobGroup("quantile-below-cap", "quantile_bucket below the window cap")
    try:
        out = quantile_bucket(df, "x", [0.2, 0.8], ["Low", "Medium", "High"], "CLV")
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup("quantile-below-cap")
    assert len(jobs) <= BELOW_CAP_JOBS, len(jobs)
    lo, hi = exact_quantile_cuts(df, "x", [0.2, 0.8]).collect()[0]
    want = {u: "Low" if v <= lo else "Medium" if v <= hi else "High" for u, v in enumerate(vals)}
    assert {r["u"]: r["CLV"] for r in out.collect()} == want


@pytest.mark.parametrize("kind", ["empty", "filtered", "all_null", "cached_empty"])
def test_bucket_of_no_values_returns(spark, kind):
    # the observed count is read after the checkpoint; for an input with
    # no values it must still report, or the call would block for good
    frames = {
        "empty": lambda: spark.createDataFrame([], "x double"),
        "filtered": lambda: spark.createDataFrame([(1.0,)], "x double").where("false"),
        "all_null": lambda: spark.createDataFrame([(None,), (None,)], "x double"),
        "cached_empty": lambda: spark.createDataFrame([], "x double").cache(),
    }
    got = []
    worker = threading.Thread(
        target=lambda: got.append(quantile_bucket(frames[kind](), "x", [0.5], ["lo", "hi"], "B").collect()),
        daemon=True,
    )
    worker.start()
    worker.join(timeout=120)
    assert not worker.is_alive(), f"quantile_bucket on {kind} input did not return"
    assert [r["B"] for r in got[0]] == ["hi"] * (2 if kind == "all_null" else 0)
