"""Engine-wide plan hygiene: EVERY registered query's physical plan is
scanned for the three distributed anti-patterns. The whitelists are not
excuses — each entry names a BOUNDED occurrence (a 1-row scalar
aggregate, a broadcast query set, a sketch-sized triangular join) that is
part of the query's documented design; anything new that introduces one
of these patterns fails until it is either fixed or justified here.

- ``CartesianProduct``: never allowed, no exceptions — a real row×row
  product has no bounded form.
- ``Exchange SinglePartition``: allowed only for 1-row/ k-row funnels
  (global scalar aggregates, single-row reports, post-limit ranks).
- ``BroadcastNestedLoopJoin``: allowed only where the broadcast side is
  provably tiny (1-row scalars, the <= N_QUERIES query set, the
  <= QS_BINS sketch) — the non-equi join is then O(rows·tiny).
"""

from __future__ import annotations

from eth_dspa_2019_spark.plans import all_queries

# 1-row (or k-row, k fixed) funnels: global scalar aggregates and
# single-row report shapes. The single partition carries ~one row.
SINGLE_PARTITION_OK = {
    "bloom_membership_screen",  # one-row screen summary
    "cleaned_invariants",  # one-row invariant report
    "corpus_prep_e2e",  # composes surprisal (scalar total)
    "doc_unigram_surprisal",  # corpus-total scalar
    "domain_mixture_sample",  # per-domain quota scalars
    "event_funnel",  # four 1-row step counts unioned
    "graph_triangle_count",  # one-row triangle count
    "graph_bfs_depths",  # one-row unreached-count aggregate unioned
    "q6_forecast_revenue",  # single-row TPC-H aggregate
    "q11_important_stock",  # global scalar threshold
    "q15_top_supplier",  # global max revenue scalar
    "q17_small_quantity_revenue",  # single-row aggregate
    "q19_disjunctive_revenue",  # single-row aggregate
    "q22_idle_high_balance",  # global avg-balance scalar
    "referential_audit",  # one-row audit report
    "zorder_pruning_stats",  # two 1-row layout summaries unioned
    "user_key_skew_profile",  # skew summary scalars
    "bm25_search_topk",  # rank window AFTER limit(k)
    "fuzzy_blocking_overflow",  # one-row overflow audit aggregate
    "deletion_propagation",  # six 1-row per-relation audit aggregates
    "doc_nb_quality",  # two 1-row training funnels (totals + calibration)
    "perplexity_mixture_sample",  # cum-window over the <=few-hundred-bin histogram + 1-row thresholds
    "dsir_importance_weights",  # 1-row target/raw feature-total funnel
    "token_budget_allocation",  # windows over the row-per-domain relation (bounded by domain count)
    "source_token_kl_drift",  # corpus-total scalar (1-row ctot aggregate)
}

# broadcast side provably tiny: 1-row scalars, the query set, the sketch
BNLJ_OK = {
    "ann_topk_sq8",  # broadcast quantized query set (N_QUERIES rows)
    "corpus_prep_e2e",  # 1-row corpus-total cross join
    "cosine_topk_bruteforce",  # broadcast query set x corpus (by design)
    "kmeans_lloyd_sizes",  # broadcast K≈√N stride-seed centroid relation
    "doc_unigram_surprisal",  # 1-row total cross join
    "domain_mixture_sample",  # 1-row quota cross join
    "event_type_hour_chi2",  # 1-row N cross join
    "q11_important_stock",  # 1-row threshold cross join
    "q22_idle_high_balance",  # 1-row avg cross join
    "referential_audit",  # 1-row totals cross join
    "task2_recommendations",  # broadcast window-range relation
    "task2_static_similarity",  # broadcast candidate user set
    "user_key_skew_profile",  # 1-row totals cross join
    "value_quantile_sketch",  # triangular join of the <=256-row sketch
    "event_type_quantile_sketch",  # 3 pct ranks x |groups|-row stats
    "zorder_pruning_stats",  # probes x <=64 broadcast group spans
    "vector_pipeline_e2e",  # composes cosine_topk (broadcast queries)
    "doc_nb_quality",  # 1-row totals + 1-row calibration cross joins
    "perplexity_mixture_sample",  # 1-row corpus-total + tercile-threshold cross joins
    "dsir_importance_weights",  # 1-row feature-totals cross join
    "token_budget_allocation",  # 1-row budget + capped-totals cross joins
    "source_token_kl_drift",  # 1-row corpus-total cross join
}


def test_every_registered_plan_is_anti_pattern_free(spark, sf_dir):
    """Builds all ~142 physical plans (runs builder-embedded scalar jobs;
    a few minutes) and asserts the three-pattern policy above."""
    bad: list[str] = []
    for name, spec in sorted(all_queries().items()):
        plan = (
            spec.spark(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        if "CartesianProduct" in plan:
            bad.append(f"{name}: CartesianProduct")
        if "Exchange SinglePartition" in plan and name not in SINGLE_PARTITION_OK:
            bad.append(f"{name}: Exchange SinglePartition")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            bad.append(f"{name}: BroadcastNestedLoopJoin")
    assert not bad, "plan hygiene violations:\n" + "\n".join(bad)


def test_doc_classifier_quality_is_map_only(spark, sf_dir):
    """The hashed-feature classifier claims ZERO Exchange (pure map over
    the scan) — assert it, not just document it."""
    from eth_dspa_2019_spark.plans.llm import doc_classifier_quality

    plan = (
        doc_classifier_quality(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_curation_e2e_classifier_not_duplicated_into_filter(spark, sf_dir):
    """Regression pin for the r8 pushdown blowup: the classifier score
    must be computed once behind the materialization barrier — if the
    hashed-feature expression (recognizable by its weight salt) leaks
    back into the executed plan, predicate pushdown is re-cloning it
    into a Filter and the stage falls out of whole-stage codegen
    (measured 47 s vs 6 s at sf0.1)."""
    from eth_dspa_2019_spark.plans.pipeline import curation_pipeline_e2e

    plan = (
        curation_pipeline_e2e(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "qw#" not in plan, "classifier expression escaped the barrier"


def test_no_expensive_expressions_cloned_into_filters(spark, sf_dir):
    """The round-8 bug class, swept registry-wide: predicate pushdown can
    clone a large aliased expression (md5 chains, higher-order lambdas)
    into a Filter below its Project; the doubled tree then falls out of
    whole-stage codegen (measured 8x on the curation e2e). Any Filter
    node evaluating two or more md5 calls or lambda functions signals
    that duplication — fix with a narrow materialization barrier before
    the gate (see plans/pipeline.py::curation_pipeline_e2e)."""
    bad: list[str] = []
    for name, spec in sorted(all_queries().items()):
        plan = (
            spec.spark(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        for line in plan.splitlines():
            ls = line.strip().lstrip("+-: ")
            if ls.startswith("Filter") and (
                ls.count("md5(") >= 2 or ls.count("lambdafunction") >= 2
            ):
                bad.append(f"{name}: {ls[:120]}")
                break
    assert not bad, "expensive Filter clones:\n" + "\n".join(bad)
