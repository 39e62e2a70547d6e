"""Regenerate PLANS.md: the formatted physical plans of the headline
queries, as evidence that each plan is the one we WANT (pushdown, pruned
schemas, broadcasts, single-shuffle windows) — not just the first one that
passed. Run: python tools/dump_plans.py [sf_dir]"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from domanda_etl_spark.session import get_spark

HEADLINE = [
    "flagship_regional_revenue",
    "scan_filter_distinct",
    "latest_wins_dedup",
    "domanda_unify_mini",
    "dedup_minhash_lsh_pairs",
    "similarity_topk_bruteforce",
    "tpch_q3_shipping_priority",
    "tpch_q18_large_volume_customers",
    "tpch_q10_returned_items",
    "window_range_frame",
    "events_tumbling_window",
    "llm_corpus_clean",
    "gopher_repetition",
    "kmeans_assign",
    "contamination_screen",
    "tpch_q2_min_cost_supplier",
    "tpch_q21_waiting_suppliers",
    "scd2_user_history",
    # round 3
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "shard_packing",
    "funnel_analysis",
    "doc_chunking",
    "similarity_topk_ivf",
    "quantile_bucket_global",
    "unpivot_melt",
    # round 3, batch 2
    "paragraph_dedup",
    "bigram_collocations",
    "url_canonicalize_dedup",
    "bucketed_join_colocated",
    "partitioned_write_prune",
    # round 3, batch 4
    "web_corpus_pipeline",
    "spatial_bucket_join",
    "lsh_pair_containment",
    "embedding_gram_matrix",
    "incremental_agg_merge",
    # round 6
    "deterministic_shuffle",
    "bigram_lm_surprisal",
    "attribution_first_last",
    "heavy_hitters_cms",
    "embedding_power_iteration",
    "ewma_halflife_smoothing",
    "approx_sketches",
    # round 6, batch 2 (drift/fit/mining + curation)
    "distribution_drift_tvd",
    "ks_drift_exact",
    "groupwise_ols_regression",
    "market_basket_pairs",
    "histogram_median_rollup",
    "triangle_count_keys",
    "dsir_importance_weights",
    "boilerplate_line_removal",
    "k_anonymity_generalize",
    "bpe_merge_candidates",
    "hard_negative_mining",
    # round 6, batches 9-10
    "setsim_prefix_join",
    "cdc_apply_log",
    "benford_digit_audit",
    "robust_scaler_groups",
    "embedding_int8_quantization",
    "corpus_fertility_by_lang",
    "quantization_recall_audit",
    "twostage_rerank_retrieval",
    "ohlc_resample",
    "pareto_frontier_2d",
    "weighted_median_groups",
    "period_over_period_growth",
    "embedding_dimension_stats",
    "rfm_segmentation",
    "exact_auc_ranksum",
    "minhash_estimate_audit",
    "diff_in_differences",
    "survival_hazard_table",
    # round 6, batches 21-25
    "poisson_bootstrap_ci",
    "cusum_changepoint",
    "event_path_trigrams",
    "item_item_cosine_topk",
    "theil_sen_trend",
    "neyman_allocation_sample",
    "khop_reachability",
    "kmv_distinct_sketch",
    "ivm_join_delta",
    "rrf_rank_fusion",
    # round 6, batches 26-35
    "cuped_variance_reduction",
    "mutual_nn_pairs",
    "markov_absorption_iter",
    "split_conformal_coverage",
    "trending_items_decay",
    "scd2_asof_enrich",
    "point_in_time_features",
    "abc_pareto_classes",
    "wasserstein_drift_exact",
    "target_encoding_kfold",
    "largest_remainder_allocation",
    "cohort_overlap_jaccard",
    "attribution_time_decay",
    "phonetic_blocking_audit",
    # round 6, batches 36-44
    "interarrival_cv_audit",
    "temperature_sampling_mix",
    "horvitz_thompson_estimate",
    "implicit_negative_sampling",
    "cohens_kappa_labelers",
    "kendall_tau_rankers",
    "kfold_metric_stability",
    "selectivity_independence_audit",
    "encoding_size_model",
    "leaderboard_churn",
    "pinball_loss_eval",
    "new_vs_returning_daily",
    "heaps_law_curve",
    "token_mass_coverage",
    "consistent_hash_resharding",
    # round 6, batches 45-47
    "leadlag_crosscorrelation",
    "window_value_functions",
    "array_lambda_functions",
    "content_defined_chunking",
    "l_diversity_audit",
    "sampled_join_bias",
    "session_definition_sensitivity",
    "uplift_qini_points",
    "equidepth_histogram_bounds",
    # round 6, batches 49-51
    "covariate_balance_smd",
    "degree_assortativity",
    "hierarchical_share_rollup",
    "rollup_consistency_proof",
    "maxmin_fair_allocation",
    "token_bag_fingerprint_dedup",
    # round 7: Spark 4 extension surfaces (inlining / pushdown showcases)
    "python_datasource_scan",
    "python_udtf_chunks",
    "sql_udf_suite",
    "collated_group_counts",
    "variant_shredding_roundtrip",
    # round 8: curation additions (sketches, screens, decontamination)
    "hll_distinct_audit",
    "gopher_repetition_filter",
    "contamination_ngram_overlap",
    "dsir_importance_weights",
    "cluster_aware_split",
    # round 10: curation/eval additions
    "chao1_unseen_vocab",
    "psi_drift_bins",
    "wilson_lower_bound_ranking",
    "ipw_ate_estimate",
    "label_propagation_communities",
    "resource_allocation_linkpred",
    # round 10, batch 2
    "lsh_s_curve_audit",
    "srm_audit",
    "ab_power_mde",
    "fano_factor_dispersion",
    "survivorship_conflict_audit",
    "information_gain_features",
    "centroid_silhouette_audit",
    "regression_discontinuity",
    "cramers_v_association",
    # round 11
    "hits_purchase_graph",
    "encoding_artifact_audit",
    "group_sequential_obf_audit",
    "bandit_replay_eval",
    "image_decode_jpeg",
    "chi2_contingency",
    "ppr_seeded_retrieval",
    "lpa_modularity_audit",
    # round 13 batch 2 (bfs_reachability_levels is a job-runner: its
    # levels checkpoint at build, so only the final rollup plan prints —
    # its per-level join shape is pinned in tests/test_round13_batch2.py)
    "spearman_by_segment",
    "acf_daily_revenue",
    "pmi_vocab_pairs",
    "quantile_normalize_lengths",
    "embedding_dim_covariance",
    # round 14 (VERDICT r13 §next#9 gap fills)
    "dup_passage_islands",
    "reliability_diagram_ece",
    # round 16 (registry-gap fills)
    "stratified_sample_audit",
    "tokenizer_fertility_profile",
    "pairwise_preference_copeland",
    "column_profile_contract",
]


# Python the plan gates allow: Arrow-batched stages only (the multimodal
# mapInPandas family, and the Spark 4 Python UDTF surface proof, which
# plans as ArrowEvalPythonUDTF), never row-at-a-time eval.
ARROW_PYTHON_OK = frozenset({
    "media_frame_extract",
    "image_decode_roundtrip",
    "image_resize_boxfilter",
    "audio_wav_features",
    "python_udtf_chunks",
})


def build_registry(spark, sf_dir: str, names=None) -> dict[str, tuple[str, int]]:
    """Build each registry query once: name -> (executed plan string,
    jobs it ran while building). Jobs are the growth of the newest job id
    in the driver's status store, so jobs that streaming queries run on
    their own stream threads (outside the caller's job group) count too."""
    from perfbench.meter import StatusStore

    qs = entrymod.queries()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = StatusStore(spark)

    def newest_job() -> int:
        bus.waitUntilEmpty()
        return store.mark()[1]

    out = {}
    for name in names or qs:
        before = newest_job()
        df = qs[name](spark, sf_dir)
        jobs = newest_job() - before
        out[name] = (df._jdf.queryExecution().executedPlan().toString(), jobs)
    return out


def posture_stats(spark, sf_dir: str) -> list[str]:
    """Registry-wide physical-plan posture: one pass over every query,
    counting the properties the scale claims rest on. The same properties
    are ASSERTED per-query in tests/test_plans_quality.py; this table is
    the aggregate evidence."""
    import re

    registry = build_registry(spark, sf_dir)
    n_pushed = n_bcast = n_smj = n_python = n_cartesian = 0
    n_single_ok = n_single_bad = 0
    for name, (plan, _) in registry.items():
        if re.search(r"PushedFilters: \[[^\]]", plan):
            n_pushed += 1
        if "BroadcastHashJoin" in plan:
            n_bcast += 1
        if "SortMergeJoin" in plan:
            n_smj += 1
        if "EvalPython" in plan and name not in ARROW_PYTHON_OK:
            n_python += 1
        if "CartesianProduct" in plan:
            n_cartesian += 1
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" in line:
                feeder = lines[i + 1] if i + 1 < len(lines) else ""
                if (
                    "partial_" in feeder
                    or "merge_" in feeder
                    or "Aggregate(" in feeder
                ):
                    n_single_ok += 1
                else:
                    n_single_bad += 1
    n_runners = sum(1 for _, jobs in registry.values() if jobs)
    return [
        "## Registry-wide plan posture",
        "",
        f"{len(registry)} queries inspected ({n_runners} of them run Spark"
        " jobs while building, measured from the status store):",
        "",
        "| property | count |",
        "|---|---|",
        f"| scans with pushed-down filters | {n_pushed} |",
        f"| plans using broadcast hash joins | {n_bcast} |",
        f"| plans with sort-merge joins | {n_smj} |",
        f"| row-level Python outside the Arrow multimodal whitelist | {n_python} |",
        f"| CartesianProduct anywhere | {n_cartesian} |",
        f"| SinglePartition exchanges fed by aggregates (legal — combined rows only) | {n_single_ok} |",
        f"| SinglePartition exchanges moving row-scale data (gated to zero) | {n_single_bad} |",
        "",
    ]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="dump-plans", master="local[4]", shuffle_partitions=4)
    qs = entrymod.queries()
    out = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}`. Things to check",
        "per plan: `PushedFilters` reaches the scan, `ReadSchema` is pruned to",
        "used columns, joins are `BroadcastHashJoin` (or bucketed SMJ), window",
        "dedup has a single `Exchange`, and Python appears nowhere except the",
        "multimodal mapInPandas stage.",
        "",
    ]
    out += posture_stats(spark, sf_dir)
    for name in HEADLINE:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        out += [f"## {name}", "", "```", plan.strip(), "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(HEADLINE)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
