"""Graded query catalog: name -> (spark, sf_dir) -> DataFrame, plus the
matching DuckDB oracle SQL (driver contract, __spark_entry__.py).

Every query here is one SURVEY.md §2 operator/mart made observable. Queries
without an oracle entry (genuinely non-SQL ops, e.g. MinHash-LSH) get the
driver's weaker rows-only check and say so in their docstring."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

# A query's roles in bench.py, the catalog benchmark, which builds its query
# sets from these tags. An untagged query runs in the headline and 10x blocks
# with one measured pass after the warm-up pass.
TAG_NAMES = frozenset({
    # left out of every bench.py block
    "untimed",
    # a second measured pass; the bench keeps the faster one (the plans the
    # reference's gold surface rests on, and queries one slow outlier run
    # would otherwise misreport)
    "min2",
    # also timed on the hot-key data set, against its uniform 10x time
    "skew",
    # left out of the 10x block: its cost grows with the square of a block
    "unscaled",
})
TAGS: dict[str, frozenset[str]] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    unknown = sorted(set(tags) - TAG_NAMES)
    if unknown:
        raise ValueError(f"catalog query {name!r}: unknown tags {unknown}; known: {sorted(TAG_NAMES)}")

    def deco(fn):
        # a second registration under an existing name would SILENTLY
        # clobber the first query and its oracle (dict assignment), which
        # once cost a previously-green catalog entry its coverage. Allow
        # only the same function re-registering (module reload in tests).
        prior = QUERIES.get(name)
        if prior is not None and prior.__qualname__ != fn.__qualname__:
            raise ValueError(
                f"catalog query name {name!r} is already registered by "
                f"{prior.__module__}.{prior.__qualname__}; pick a new name"
            )
        QUERIES[name] = fn
        TAGS[name] = frozenset(tags)
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# Correctness grading covers the FIRST 50 catalog entries, served in this
# order. The window holds, in this order:
# - the 28 queries the previous window left out, graded only in the window
#   that followed their addition, so that their rows are current again;
# - the walk-kernel family, whose plans the shared node prep, hop step and
#   walk loop rewrote, and whose bucketed hops no longer repartition the
#   node side;
# - the reference's 12 gold marts, graded every window as insurance.
# Every other query keeps its last green row as evidence.
GRADE_FIRST: list[str] = [
    # -- left out of the previous window
    "customers_name_fuzzy_pairs",
    "customers_survival_hazard",
    "docs_bm25_ndcg",
    "docs_mojibake_screen",
    "docs_stratified_kfold",
    "emb_ivf_pq_topk",
    "emb_mmr_select",
    "events_attribution_ushape",
    "events_calibration_bins",
    "events_daily_mad_anomalies",
    "events_gini_best_split",
    "events_l_diversity",
    "events_mann_whitney",
    "events_pr_curve",
    "events_value_drift",
    "events_value_exact_percentiles",
    "lineitem_correlation_matrix",
    "lineitem_qty_tied_percentiles",
    "lineitem_zorder_buckets",
    "multimodal_features",
    "orders_compacted_snapshot",
    "orders_schema_evolution",
    "orders_seasonal_decompose",
    "orders_target_encoding",
    "orders_time_travel",
    "orders_version_changes",
    "orders_versioned_delete",
    "orders_versioned_merge",
    # -- the walk-kernel family
    "supply_pagerank_directed",
    "parts_copurchase_pagerank",
    "parts_copurchase_pagerank_bucketed",
    "parts_copurchase_pagerank_weighted",
    "parts_copurchase_pagerank_weighted_bucketed",
    "parts_affinity_pagerank",
    "supply_hits_scores",
    "supply_hits_scores_bucketed",
    "supply_katz_centrality",
    "supply_katz_centrality_growing",
    # -- the reference's gold marts
    "fact_ltv_daily",
    "mart_customer_ltv_snapshot",
    "mart_customer_clv_segment",
    "mart_customer_rfm",
    "mart_customer_churn_profile",
    "mart_sales_trends_daily",
    "mart_sales_trends_weekly",
    "mart_sales_trends_monthly",
    "mart_sales_trends_hourly",
    "mart_loyalty_program_impact",
    "mart_location_performance",
    "mart_discount_effectiveness",
]


def ordered_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Catalog in grading-priority order: GRADE_FIRST (see comment above),
    then everything else in definition order."""
    head = [n for n in GRADE_FIRST if n in QUERIES]
    tail = [n for n in QUERIES if n not in GRADE_FIRST]
    return {n: QUERIES[n] for n in head + tail}


def load_all() -> None:
    """Import every query-defining module (idempotent)."""
    from . import (  # noqa: F401
        queries_analytics,
        queries_marts,
        queries_ops,
        queries_pipeline,
        queries_warehouse,
    )
