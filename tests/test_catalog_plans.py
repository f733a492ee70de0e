"""Scale-guard over the WHOLE catalog: no query may plan an all-pairs join.

CartesianProduct / BroadcastNestedLoopJoin are the two physical shapes that
explode quadratically at scale; every operator module forswears them
(SCALE.md). This meta-test catches a regression in ANY catalog query the
moment it's introduced, rather than in a per-operator test someone forgot
to write.

Whitelist: quantile bucketing cross-joins a BROADCAST ONE-ROW cut frame
(functions/quantile.py) -- a constant-size build side by construction, not
a data-sized product.
"""

import pytest

from aws_glue_cdc_metrics_job_spark.plans import catalog

catalog.load_all()

# queries whose plan legitimately contains a BOUNDED broadcast cross join:
# name -> (max allowed bad-shape occurrences, why). Counted, not skipped, so
# a SECOND genuinely-quadratic join sneaking into a whitelisted query's plan
# still fails the guard (ADVICE r2).
BOUNDED_BROADCAST_OK = {
    # the Bloom word array rides a broadcast ONE-ROW frame onto the fact
    # scan (operators/bloom.py) -- constant-size build side by construction
    "events_bloom_prune_revenue": (1, "1-row bloom-words frame (operators/bloom.py)"),
    # sources cross the BOUNDED top-k head-vocab frame (LIMIT 300) which
    # itself carries the 1-row corpus total (text.head_vocab_drift)
    "docs_head_vocab_drift": (2, "bounded top-k vocab frame + its 1-row corpus total"),
    # salted_join replicates the small side against a broadcast range(salt)
    # frame (8 rows) -- the standard skew-spreading pattern
    "docs_simhash_pairs": (1, "broadcast 8-row salt range (relational.salted_join)"),
    # probe scoring crosses the contractually-small query set with the
    # centroid table (~sqrt(N) rows), both broadcast-sized by construction
    "emb_ivf_topk": (1, "bounded query-set x centroids probe scoring"),
    # same probe_cells pattern inside the IVF-PQ composition
    "emb_ivf_pq_topk": (1, "bounded query-set x centroids probe scoring"),
    # BM25 crosses each per-term hit row with the ONE-ROW (N, avgdl) frame
    "docs_bm25_topk": (1, "1-row corpus-stats frame (text.bm25_topk)"),
    # unigram LM crosses the token stream with the ONE-ROW total-count frame
    "docs_unigram_logprob": (1, "1-row corpus-total frame (text.unigram_logprob)"),
    # heavy hitters crosses per-token counts with the ONE-ROW total frame
    "docs_heavy_hitters": (1, "1-row corpus-total frame (text.heavy_hitters)"),
    # skew report crosses per-key counts with the ONE-ROW grand-total frame
    "events_type_skew_report": (1, "1-row grand-total frame (relational.skew_report)"),
    # benford screen crosses the 9-row digit table with the ONE-ROW total
    "orders_benford_screen": (1, "1-row digit-total frame (quality.benford_report)"),
    # temperature mix crosses per-source counts with the ONE-ROW denominator
    "docs_temperature_mix": (1, "1-row smoothing denominator (sampling.temperature_mix)"),
    # equal-key member expansion goes through the broadcast 8-row salt range
    "docs_fuzzy_key_pairs": (1, "broadcast 8-row salt range (relational.salted_join)"),
    # negative draw crosses anchors with the ONE-ROW corpus-count frame
    "docs_negative_samples": (1, "1-row corpus-count frame (sampling.negative_samples)"),
    # per-class fractions cross the class counts with the ONE-ROW min frame
    "docs_balanced_sample": (1, "1-row min-class-count frame (sampling.balanced_hash_sample)"),
    # lift denominators cross the bigram table with the ONE-ROW total frame
    "docs_collocations": (1, "1-row corpus-total frame (text.collocation_lift)"),
    # lift denominators cross the pair table with the ONE-ROW basket count
    "lineitem_basket_pairs": (1, "1-row basket-count frame (relational.basket_pairs)"),
    # bucket-model ratios cross the bucket table with the ONE-ROW totals
    "docs_dsir_weights": (1, "1-row corpus/target-total frame (text.dsir_weights)"),
    "docs_dsir_weights_fast": (1, "1-row corpus/target-total frame (text.dsir_weights)"),
    # interpolation denominator crosses occurrences with the ONE-ROW N frame
    "docs_bigram_logprob": (1, "1-row token-total frame (text.bigram_logprob)"),
    # fused candidate lists are rank-bounded; BM25 carries its 1-row stats
    "docs_hybrid_rrf": (1, "1-row corpus-stats frame (text.bm25_topk)"),
    # the selection composite inherits BOTH models' 1-row total frames
    "docs_selection_pipeline": (2, "1-row totals: bigram_logprob N + dsir_weights corpus/target"),
    # the model's 1-row token-total frame is instantiated by BOTH score
    # consumers (unigram join + N attach) plus the attach join itself
    "docs_bigram_ppx_scored": (3, "1-row token-total frames (text.bigram_lm_model/_score)"),
    # SQ8 scoring crosses the corpus with the contract-small query codes
    "emb_sq8_topk": (1, "bounded broadcast query-code set (similarity.sq8_topk)"),
    # DF rates cross the per-token counts with the ONE-ROW doc-count frame
    "docs_df_table": (1, "1-row corpus doc-count frame (text.df_table)"),
    # Q11 shape: per-part values cross the ONE-ROW global total/count frame
    "part_value_concentration": (1, "1-row global-total frame (queries_warehouse)"),
    # the split scorer crosses every row with the ONE-ROW min/max bounds
    "events_gini_best_split": (1, "1-row bounds frame (stats.gini_split_candidates)"),
    # the rank-sum prefix buckets the distinct-value frame against the
    # ONE-ROW min/max bounds (same gini binning pattern)
    "events_mann_whitney": (1, "1-row bounds frame (stats.mann_whitney_u)"),
    # shared bin edges ride the ONE-ROW combined min/max bounds
    "events_value_drift": (1, "1-row bounds frame (stats.distribution_drift)"),
    # score normalization rides the ONE-ROW combined min/max bounds
    "events_calibration_bins": (1, "1-row bounds frame (stats.calibration_bins)"),
    # bm25's 1-row corpus stats, the LIMIT-10 ranked frame joined to
    # relevance, and ndcg's 1-row IDCG frame -- all bounded by construction
    "docs_bm25_ndcg": (3, "1-row bm25 stats + top-10 ranked frame + 1-row IDCG frame"),
    # the Morton key crosses every row with the ONE-ROW min/max bounds
    "lineitem_zorder_buckets": (1, "1-row bounds frame (functions/zorder.add_zorder_key)"),
    # the full deviation grid is a cross join of the TWO MARGINAL frames,
    # each bounded at its column's distinct-value count by construction
    "events_type_dow_independence": (1, "bounded marginal grid (monitoring.independence_matrix)"),
    # Q15 shape: per-supplier revenue crosses the ONE-ROW max-revenue frame
    "top_supplier_revenue": (1, "1-row max-of-aggregate frame (queries_warehouse)"),
    # Q22 shape: customers cross the ONE-ROW global average-balance frame
    "idle_rich_customers": (1, "1-row avg-balance frame (queries_warehouse)"),
}

BAD_SHAPES = ("CartesianProduct", "BroadcastNestedLoopJoin")


@pytest.mark.parametrize("name", sorted(catalog.QUERIES))
def test_no_all_pairs_join_shapes(spark, sf_dir, name):
    df = catalog.QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    allowed, why = BOUNDED_BROADCAST_OK.get(name, (0, None))
    count = sum(plan.count(shape) for shape in BAD_SHAPES)
    assert count <= allowed, (
        f"{name} plans {count} all-pairs join shape(s), allowed {allowed}"
        + (f" ({why})" if why else "")
        + f":\n{plan[:3000]}"
    )


def test_grade_first_names_all_exist():
    """ordered_queries() silently SKIPS GRADE_FIRST names missing from the
    catalog -- a typo in the rotation list would silently demote a query
    out of the driver's 50-slot grading window. Pin the invariant."""
    from aws_glue_cdc_metrics_job_spark.plans import catalog

    catalog.load_all()
    missing = [n for n in catalog.GRADE_FIRST if n not in catalog.QUERIES]
    assert missing == [], f"GRADE_FIRST names not in the catalog: {missing}"
    dupes = [n for n in set(catalog.GRADE_FIRST) if catalog.GRADE_FIRST.count(n) > 1]
    assert dupes == [], f"GRADE_FIRST repeats (wastes window slots): {dupes}"


def test_unknown_catalog_tag_raises():
    """bench.py builds its query sets from catalog tags, so a misspelt tag
    would silently move a query out of its block: only the known tags
    register."""
    with pytest.raises(ValueError, match="unknown tags"):
        catalog.query("tag_probe", tags=("min-2",))
    with pytest.raises(ValueError, match="unknown tags"):
        catalog.query("tag_probe", tags="min2")  # a string, not a tuple of tags
    assert "tag_probe" not in catalog.QUERIES
    assert set(catalog.TAGS) == set(catalog.QUERIES)
    assert all(tags <= catalog.TAG_NAMES for tags in catalog.TAGS.values())
