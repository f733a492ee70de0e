"""Catalog benchmark: run the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print a JSON
line {"metric", "value", "unit", "queries", "sf"}.

The line is CUMULATIVE and re-printed after each block (headline / sf1+skew
/ sf10), so a run killed mid-way still leaves the completed blocks' numbers
as its last parseable line.

Each query is forced end-to-end with the noop sink (full computation, no
driver collect). Timings are wall-clock per query; "value" is the total.
Which queries run in which block comes from their catalog tags
(plans/catalog.py TAG_NAMES); only the sf10 block keeps its own list.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from aws_glue_cdc_metrics_job_spark.plans import catalog  # noqa: E402

catalog.load_all()


def _tagged(tag: str) -> list[str]:
    return [n for n in catalog.ordered_queries() if tag in catalog.TAGS[n]]


HEADLINE = [n for n in catalog.ordered_queries() if "untimed" not in catalog.TAGS[n]]
MIN2 = set(_tagged("min2"))
SKEW_QUERIES = _tagged("skew")
SCALE_EXCLUDE = set(_tagged("unscaled"))

# The 100x decade point times these in this order under a wall-clock
# budget, and the budget trims from the end: the silver-reading mart twins
# first, then the iterative graph and near-dedup queries, whose scaling is
# the block's main evidence, then the bootstrap twins (three runs each) and
# the perceptron pair.
SF10_QUERIES = [
    "mart_customer_clv_segment",
    "mart_customer_clv_segment_approx",
    # (the silver caches are RELEASED here -- nothing below reads them)
    "parts_affinity_pagerank",
    "docs_incremental_near_dedup",
    "docs_selection_pipeline",
    "parts_copurchase_pagerank",
    "parts_copurchase_triangles",
    "parts_copurchase_pagerank_bucketed",
    "events_value_bootstrap_ci",
    "events_value_bootstrap_ci_fast",
    "emb_perceptron_step",
    "emb_perceptron_train",
]

# The only sf10 queries that read the memoized silver caches; they run
# FIRST, after which the block releases the two 60M-row cached frames --
# resident but useless storage that otherwise pressures the heavy
# graph/dedup shuffles (measured: docs_incremental_near_dedup 67 s -> 191 s
# when run under the resident caches).
SF10_SILVER = {"mart_customer_clv_segment", "mart_customer_clv_segment_approx"}

# Twin-pair queries get an unmeasured run, then the min of two measured
# runs: their sf1 denominators are warm steady-state numbers, and a single
# COLD sf10 pass measures the SHARED snapshot/replicate lineage's first
# materialization instead of the twins' own difference, inverting the pairs
# by position alone (measured: xxhash bootstrap 90 s vs its md5 twin 65 s).
# The iterative graph queries stay single-pass cold: each hop is a fresh
# shuffle either way, so warm-up buys them little and the cold number stays
# the conservative decade bound.
SF10_WARM = {
    "mart_customer_clv_segment",
    "mart_customer_clv_segment_approx",
    "events_value_bootstrap_ci",
    "events_value_bootstrap_ci_fast",
}

# a renamed query must fail the bench, not drop out of it
_unknown = sorted({*SF10_QUERIES, *SF10_SILVER, *SF10_WARM} - catalog.QUERIES.keys())
if _unknown:
    raise ValueError(f"bench.py sf10 names not in the catalog: {_unknown}")

# Each query execution leaves localCheckpoint blocks and broadcasts whose
# removal waits for ContextCleaner, which learns of dead references only
# after a DRIVER GC. Left alone, a naturally-triggered GC floods the block
# manager with removals while some contiguous window of queries runs
# (measured: 13 queries at 2-6x their isolated cost, in a different place
# each run). So the bench collects between queries, never inside a timing,
# every _GC_EVERY queries, and after every sf10 run.
_GC_EVERY = 25


def _emit(out: dict, detail: dict, detail_path: str) -> None:
    """Write the detail file and print ONE cumulative JSON line.

    Called after EVERY block, not only at exit: a timeout or crash mid-run
    leaves the previous block's line as the last parseable output. Each
    line is kept under a 2000-char stdout tail by dropping the FASTEST
    per-query entries first (the slow ones are the regression signal);
    bench_detail.json always has the full set.
    """
    # tmp + atomic rename: a kill mid-dump must not clobber the previous
    # block's complete detail file with a truncated one
    with open(detail_path + ".tmp", "w") as fh:
        json.dump(detail, fh, indent=1)
    os.replace(detail_path + ".tmp", detail_path)
    out = dict(out)
    full_queries = dict(out["queries"])
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:
        kept = sorted(full_queries.items(), key=lambda kv: -kv[1])
        while len(line) > 1900 and kept:
            kept.pop()
            out["queries"] = dict(sorted(kept))
            out["queries_spilled"] = (
                f"{len(full_queries) - len(kept)} fastest in bench_detail.json"
            )
            line = json.dumps(out, separators=(",", ":"))
    print(line, flush=True)


def _scan_warm(spark, data_dir: str) -> None:
    """Pull a dataset's parquet bytes through the OS page cache (noop sink)
    so cold disk reads are not charged to whichever query runs first."""
    for fn in sorted(os.listdir(data_dir)):
        if fn.endswith(".parquet"):
            spark.read.parquet(os.path.join(data_dir, fn)).write.mode(
                "overwrite"
            ).format("noop").save()


def _driver_memory() -> str:
    """The bench session's heap: ``SPARK_DRIVER_MEMORY``, else half of
    physical memory up to 48g. The sf1 and sf10 blocks run in the same
    JVM, and the 100x graph queries hold an edge checkpoint while every
    task thread shares the execution pool, so a large machine gets twice
    the engine's 24g default."""
    from aws_glue_cdc_metrics_job_spark.session import default_driver_memory

    return os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(ceiling_gb=48)


def main() -> int:
    from aws_glue_cdc_metrics_job_spark.plans import adapters
    from aws_glue_cdc_metrics_job_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", os.path.join(ROOT, ".bench_sf1"))
    skew_dir = os.environ.get("SPARK_GRAFT_SKEW_DIR", os.path.join(ROOT, ".bench_sf1_skew"))
    sf10_dir = os.environ.get("SPARK_GRAFT_SF10_DIR", os.path.join(ROOT, ".bench_sf10"))
    detail_path = os.environ.get("SPARK_GRAFT_DETAIL", os.path.join(ROOT, "bench_detail.json"))
    # Block-manager files under the repo, not /tmp: a shuffle-fetch
    # FileNotFoundException under /tmp once killed a run, so /tmp cleaners
    # and tmpfs pressure stay out of the picture.
    scratch = os.path.join(ROOT, ".spark_scratch")
    os.makedirs(scratch, exist_ok=True)
    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.local.dir": scratch, "spark.driver.memory": _driver_memory()},
    )
    gc_spent: dict[str, float] = {}

    def collect(block: str) -> None:
        t0 = time.monotonic()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        gc_spent[block] = gc_spent.get(block, 0.0) + time.monotonic() - t0

    def timed(name: str, data_dir: str) -> float:
        t0 = time.monotonic()
        catalog.QUERIES[name](spark, data_dir).write.mode("overwrite").format("noop").save()
        return round(time.monotonic() - t0, 3)

    def sweep(names, data_dir, block, label=None, into=None, nudge=True) -> None:
        """One pass over ``names``, collecting every _GC_EVERY queries
        when ``nudge``; with ``into``, keep each query's fastest time."""
        for i, name in enumerate(names):
            if nudge and i % _GC_EVERY == 0:
                collect(block)
            t = timed(name, data_dir)
            if into is not None:
                into[name] = min(into.get(name, t), t)
                print(f"# {label}{name}: {t:.2f}s", file=sys.stderr)

    def emit() -> None:
        detail["gc_overhead_s"] = {b: round(s, 3) for b, s in gc_spent.items()}
        _emit(out, detail, detail_path)

    # A warm-up pass (JVM/codegen, the cached silver frames), then one
    # measured pass, then a second (min-of-two) pass for the MIN2 queries
    # only: the sub-2 s tail does not need it.
    names = list(HEADLINE)
    timings: dict[str, float] = {}
    sweep(names, sf_dir, "headline")
    sweep(names, sf_dir, "headline", "", timings)
    sweep([n for n in names if n in MIN2], sf_dir, "headline", "min2 ", timings)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    out = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {n: round(t, 2) for n, t in timings.items()},
        "sf": sf_val,
    }
    detail: dict = {"sf": sf_val, "queries": timings}
    emit()

    # 10x point (tools/scale_up.py): exposes the shuffle-volume scaling the
    # fixed-overhead-bound sf0.1 numbers hide. Per-query times go to the
    # detail file only, to keep the stdout line short.
    if not os.path.isdir(sf1_dir):
        # a fresh checkout lacks the derived (gitignored) scale dirs
        print(
            f"# WARNING: {sf1_dir} missing -- sf1/skew/sf10 blocks SKIPPED"
            " (python tools/scale_up.py 10 && python tools/scale_up.py --skew"
            " && python tools/scale_up.py 100 .bench_sf10 rebuild them)",
            file=sys.stderr,
        )
    else:
        # Cheap warm instead of a warm-up pass: page-cache the parquet
        # bytes and materialize the shared silver caches outside any
        # timing. Codegen is warm from the sf0.1 block (generated classes
        # key on the plan shape, not the input path).
        _scan_warm(spark, sf1_dir)
        adapters.order_revenue(spark, sf1_dir).write.mode("overwrite").format("noop").save()
        scale_names = [n for n in names if n not in SCALE_EXCLUDE]
        t1: dict[str, float] = {}
        sweep(scale_names, sf1_dir, "sf1", "sf1 ", t1)
        # min-of-two only for the denominators of the judged sf10 and
        # skew ratios
        ratio_names = set(SF10_QUERIES) | set(SKEW_QUERIES)
        sweep([n for n in scale_names if n in ratio_names], sf1_dir, "sf1", "sf1 min2 ", t1)
        out["sf1"] = {"value": round(sum(t1.values()), 3), "scale": "10x sf0.1",
                      "detail": "bench_detail.json"}
        detail["sf1"] = {"value": round(sum(t1.values()), 3), "queries": t1,
                         "scale": "10x sf0.1"}

        # Hot-key block: the uniform 10x row count with one user+type at
        # ~20% of event rows; reported as the worst skew/uniform ratio.
        if os.path.isdir(skew_dir):
            ts: dict[str, float] = {}
            sweep(SKEW_QUERIES, skew_dir, "skew", nudge=False)
            for _pass in range(2):
                sweep(SKEW_QUERIES, skew_dir, "skew", "skew ", ts, nudge=False)
            ratios = {n: round(ts[n] / t1[n], 2) for n in SKEW_QUERIES if t1.get(n)}
            worst = max(ratios, key=ratios.get) if ratios else None
            out["sf1_skew"] = {
                "value": round(sum(ts.values()), 3),
                "worst_ratio_vs_uniform": ratios.get(worst),
                "worst_query": worst,
            }
            detail["sf1_skew"] = {
                "value": round(sum(ts.values()), 3),
                "queries": ts,
                "ratio_vs_uniform": ratios,
                "scale": "10x sf0.1, one user/type at 20% of event rows",
            }
        emit()

    # Decade point: 100x sf0.1 for the SF10_QUERIES, one COLD measured
    # pass (SF10_WARM aside) -- the deliverable is the 10x->100x ratio per
    # query, and cold numbers only bias it upward. At 100x the previous
    # query's checkpointed edges otherwise pin enough storage memory to OOM
    # the next one, hence the collect after every run. The budget counts
    # the block's wall clock; queries past it are skipped AND NAMED
    # (SPARK_GRAFT_SF10_BUDGET=1e9 runs them all).
    if os.path.isdir(sf10_dir):
        budget = float(os.environ.get("SPARK_GRAFT_SF10_BUDGET", "450"))
        # page cache + parquet footers and the silver caches, outside the
        # budget: a cold pass otherwise charges the disk read-in and the
        # whole silver build to the first query it meets
        _scan_warm(spark, sf10_dir)
        adapters.order_revenue(spark, sf10_dir).write.mode("overwrite").format("noop").save()
        t10: dict[str, float] = {}
        skipped: list[str] = []
        block_t0 = time.monotonic()
        silver_released = False
        for name in SF10_QUERIES:
            if not silver_released and name not in SF10_SILVER:
                for k in [k for k in adapters._SILVER_CACHE if k[1] == sf10_dir]:
                    adapters._SILVER_CACHE.pop(k).unpersist()
                silver_released = True
            if time.monotonic() - block_t0 >= budget:
                skipped.append(name)
                continue
            if name in SF10_WARM:
                timed(name, sf10_dir)
                collect("sf10")
            t10[name] = timed(name, sf10_dir)
            if name in SF10_WARM:
                collect("sf10")
                t10[name] = min(t10[name], timed(name, sf10_dir))
            print(f"# sf10 {name}: {t10[name]:.2f}s", file=sys.stderr)
            collect("sf10")
        t1_queries = detail.get("sf1", {}).get("queries", {})
        d10 = {n: round(t10[n] / t1_queries[n], 2) for n in t10 if t1_queries.get(n)}
        worst10 = max(d10, key=d10.get) if d10 else None
        out["sf10"] = {
            "value": round(sum(t10.values()), 3),
            "worst_ratio_vs_sf1": d10.get(worst10),
            "worst_query": worst10,
            "skipped_over_budget": skipped,
        }
        detail["sf10"] = {
            "value": round(sum(t10.values()), 3),
            "queries": t10,
            "ratio_vs_sf1": d10,
            "skipped_over_budget": skipped,
            "scale": "100x sf0.1, top-expensive subset, single cold pass",
        }
        emit()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
