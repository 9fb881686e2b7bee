"""Anti-pattern sweep over EVERY registered query's physical plan.

Machine-checks, across the whole registry, the invariants the suite
claims in prose (SCALE_NOTES / docstrings):

* ZERO row-at-a-time Python UDFs (``BatchEvalPython``) anywhere — Python
  stages must be Arrow-batched (``ArrowEvalPython`` / ``MapInPandas`` /
  ``FlatMapGroupsInPandas``).
* ZERO ``CartesianProduct`` nodes — unbounded cross products are never
  acceptable; scalar broadcasts plan as ``BroadcastNestedLoopJoin`` over
  a 1-row side and are whitelisted per query.
* ``BroadcastNestedLoopJoin`` only where a side is a bounded scalar/spine
  relation (the whitelist below, with the bounding argument).

Prints the per-query operator counts and the global invariant summary
as a markdown table on stdout (nothing is written, so there is no
committed copy to go stale); tests/test_audit.py pins the invariants in
CI.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: queries allowed a BroadcastNestedLoopJoin, with the boundedness argument
BNLJ_WHITELIST = {
    # 1-row aggregate scalars broadcast into every row (min/max, counts,
    # totals, fitted weights, thresholds) — the nested loop runs over ONE row
    "q26_date_range_probe": "1-row global min/max probe",
    "q74_pack_sequences": "1-row scalar (bin capacity) broadcast",
    "q77_moment_stats": "1-row global moment scalars",
    "q84_value_outliers": "1-row per-type stats broadcast",
    "q86_price_deciles": "1-row total-count scalar (exact distributed ntile)",
    "q96_trailing_hour_stats": "RANGE frame spine (bounded)",
    "q101_source_quota_cap": "1-row quota scalar",
    "q107_cms_heavy_hitters": "1-row total-count scalar",
    "q110_token_budget_mix": "1-row budget scalar",
    "q113_leakage_safe_split": "1-row split-boundary scalars",
    "q117_corpus_filter_gate": "1-row corpus stats",
    "q119_source_token_drift": "1-row totals",
    "q121_curation_pipeline": "composed gate: 1-row stats scalars",
    "q122_value_drift_by_window": "1-row window totals",
    "q136_histogram_quantiles": "1-row per-group min/max bounds via join",
    "q138_doc_lm_score": "1-row vocab/total scalars",
    "q144_dsir_weights": "1-row LM totals",
    "q145_logreg_probe": "1-row fitted-weight vector",
    "q148_char_entropy": "bounded alphabet spine",
    "q151_bm25_topk": "1-row corpus stats (N, avgdl)",
    "q248_lexical_index_maintenance": "1-row corpus stats (N, avgdl) from the maintained len table",
    "q252_composed_ingest_update": "bounded composition: q249's constant-key matrix join (#sources x #benchmarks) + 1-row store-count scalars (the per-artifact rows_added arithmetic)",
    "q265_semantic_decon_screen": "benchmark side capped at 100 vectors by construction (vec_id < 4700 modulus sample — the fixed-eval-suite shape)",
    "q254_mixture_sampling": "1-row global weight/token totals x the |sources|-row rate table",
    "q255_repetition_mixture": "same shape as q254: 1-row global totals x the |sources|-row rate table",
    "q256_mixture_from_census": "same shape as q254 with the totals read from the census store: 1-row global totals x |sources|-row rate table",
    "q257_mixture_packing": "q254's rate derivation feeding the pack: 1-row global totals x the |sources|-row rate table",
    "q152_value_trend_ols": "1-row per-group power sums via join",
    "q153_minhash_jaccard_estimate": "1-row calibration totals",
    "q156_retention_cohorts": "bounded cohort-week spine",
    "q157_token_pmi_pairs": "1-row corpus token total",
    "q163_jaccard_prefix_join": "1-row df-threshold scalar",
    "q165_weighted_sample": "1-row per-stratum k scalar",
    "q167_integrity_audit": "1-row reconciliation totals",
    "q168_theta_intersection": "1-row theta scalar",
    "q175_chi_square_independence": "bounded contingency margins",
    "q176_join_size_estimate": "1-row sampled/exact totals",
    "q181_rendezvous_sharding": "1-row summary x 1-row balance",
    "q182_table_checksum": "1-row per-table digests unioned",
    "q183_rolling_distinct_kmv": "1-row max-day bound",
    "q186_tfidf_doc_pairs": "1-row corpus count for idf",
    "q187_ks_distance_pairs": "1-row global min/max grid bounds",
    "q189_probe_lift_curve": "1-row base-rate scalar",
    "q191_cusum_changepoint": "1-row global mean",
    "q192_time_to_convert": "1-row signup-count scalar",
    "q210_score_length_bias": "1-row total-count scalar (rank centering)",
    "q226_dedup_yield_curve": "1-row total-docs scalar + 5-row threshold spine",
    "q231_cuped_readout": "1-row pooled-theta scalar",
    "q233_embedding_hubness": "1-row corpus-count x 1-row hit-count scalars",
    "q238_url_host_dedup": "1-row total-docs scalar (quota flag)",
    "q243_vocab_growth": "1-row max-doc-id scalar + 10-row decile spine over <=11-row histograms",
    "q244_multi_benchmark_decontamination": "per-source doc counts (<=20 rows) x 3-row benchmark dim (constant-key join constant-folded to BNLJ)",
    "q249_decontamination_index_maintenance": "same matrix tail as q244: batch per-source counts (<=20 rows) x 3-row benchmark dim (constant-key join constant-folded to BNLJ)",
    # bounded dimension spines (dates/hours), not scalars
    "q78_value_range_join": "bounded band-boundary relation",
    "q82_gap_fill_forward": "bounded date spine",
    "q85_value_histogram": "bounded bucket spine",
    "q94_measure_unpivot": "bounded measure list",
    "q106_corpus_shuffle": "1-row corpus-count scalar",
    "q108_weighted_sample": "1-row total-weight scalar",
    "q115_length_bucket_batches": "1-row bucket-width scalars",
    "q116_hard_negatives": "1-row fit scalars",
    "q124_curriculum_order": "1-row difficulty bounds",
    "q140_embedding_covariance": "1-row corpus count",
    "q141_pca_project": "1-row fitted component",
    "q142_embedding_covariance_vectorized": "1-row corpus count",
    "q143_pca_project2": "1-row fitted components",
    "q146_semantic_dedup_cells": "1-row fitted centroids",
    "q154_ann_recall": "1-row recall denominator",
    "q158_dup_graph_pagerank": "1-row node count / damping scalars",
    "q159_kmv_merge": "1-row merged-vs-direct compare",
    "q161_zone_map_pruning": "1-row predicate bounds",
    "q162_version_diff_cdf": "1-row snapshot versions",
    "q164_zorder_layout": "1-row dimension bounds",
    "q166_compaction_plan": "manifest-scale file list (metadata)",
    # bounded-query-set exact/compressed scoring baselines: the loop side
    # is the ~1.6% query sample (vec_id % 50 = 0), guarded at 100k rows —
    # the documented oracle-vehicle posture; deployments use the LSH/IVF/
    # kernel paths (q40/q56/q109/q120/q129/q130)
    "q39_embedding_topk": "bounded query set x corpus (exact baseline)",
    "q104_quantized_topk": "bounded query set x corpus (quantized baseline)",
    "q118_pq_adc_topk": "bounded query set x codebooks (ADC scoring)",
    "q123_pq_adc_rerank": "bounded query set x codebooks + re-rank",
    # 1-row totals / bounded literals
    "q83_tfidf_top_terms": "1-row corpus doc count for idf",
    "q155_funnel_conversion": "1-row step totals",
    "q185_dup_graph_triangles": "three 1-row counts cross-joined",
    "q193_knn_classify": "inherits q39 bounded query set x corpus",
    "q195_daily_volume_acf": "7-lag spine x bounded day dimension",
    "q196_benford_digits": "1-row total scalar",
    "q206_kneser_ney_lm_score": "1-row bigram-type total (nbig)",
    "q208_vocab_coverage_curve": "1-row token total x 5-row size spine",
    "q209_perplexity_buckets": "1-row doc-count + nbig scalars (exact distributed ntile)",
    "q198_information_gain": "1-row totals over the bounded contingency",
    "q199_rrf_fusion": "1-row query vector x 1-row corpus stats; fused sides <=100 rows",
    "q201_temperature_mix": "1-row total-tokens scalar x 3-alpha literal grid",
    "q212_calibration_bins": "1-row total-count scalar (exact distributed ntile)",
    "q213_margin_mining": "bounded alignment batch x corpus (margin mining; ANN candidates at scale)",
    "q214_ann_ndcg": "inherits q39/q40 bounded query sets + 1-row ideal-DCG scalar",
    "q218_conformal_probe_sets": "1-row conformal quantile scalar",
    "q219_source_psi": "1-row global totals over the checkpointed bounded (source x bin) relation",
    "q221_excess_loss_reweight": "1-row global-loss + normalizer scalars over the |sources|-row relation",
    "q222_heavy_hitters_exact": "1-row token-total scalar",
    "q223_quantile_normalize": "1-row corpus-count scalar",
    "q225_probe_ks_separation": "1-row class-totals scalar over the distinct-score relation",
    "q237_t_closeness_audit": "1-row global-total scalar onto the bounded (QI x value) relation",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import (
        QUERIES,
    )
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.session import get_spark

    spark = get_spark("audit")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    ops_of_interest = [
        "Exchange",
        "Scan parquet",
        "BroadcastHashJoin",
        "SortMergeJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
        "Window",
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
        "FlatMapGroupsInPandas",
    ]
    rows = []
    violations = []
    for name, fn in QUERIES.items():
        try:
            tree = (
                fn(spark, sf_dir)
                ._jdf.queryExecution()
                .explainString(mode)
                .split("\n\n")[0]
            )
        except Exception as e:  # noqa: BLE001 — audit must cover every query
            violations.append(f"{name}: PLAN BUILD FAILED: {e}")
            continue
        counts = Counter()
        for op in ops_of_interest:
            counts[op] = len(re.findall(rf"\b{re.escape(op)}", tree))
        rows.append((name, counts))
        if counts["BatchEvalPython"]:
            violations.append(f"{name}: row-at-a-time Python UDF (BatchEvalPython)")
        if counts["CartesianProduct"]:
            violations.append(f"{name}: CartesianProduct")
        if counts["BroadcastNestedLoopJoin"] and name not in BNLJ_WHITELIST:
            violations.append(f"{name}: unlisted BroadcastNestedLoopJoin")

    lines = [
        "# AUDIT — machine-checked anti-pattern sweep over every query plan",
        "",
        f"Generated by `python tools/audit_plans.py` at {sf_dir} over "
        f"{len(rows)} query plans. Invariants (pinned in tests/test_audit.py):",
        "",
        "* **0 row-at-a-time Python UDFs** (`BatchEvalPython`) in any plan —",
        "  all Python stages are Arrow-batched.",
        "* **0 `CartesianProduct`** nodes anywhere.",
        "* `BroadcastNestedLoopJoin` only over bounded scalar/spine sides",
        "  (whitelist with per-query bounding argument in the tool).",
        "",
        f"**Result: {'CLEAN — all invariants hold' if not violations else 'VIOLATIONS: ' + '; '.join(violations)}**",
        "",
        "| query | Exch | Scans | BHJ | SMJ | BNLJ | Win | Arrow-Py |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, c in rows:
        arrow_py = c["ArrowEvalPython"] + c["MapInPandas"] + c["FlatMapGroupsInPandas"]
        lines.append(
            f"| {name} | {c['Exchange']} | {c['Scan parquet']} | "
            f"{c['BroadcastHashJoin']} | {c['SortMergeJoin']} | "
            f"{c['BroadcastNestedLoopJoin']} | {c['Window']} | {arrow_py} |"
        )
    print("\n".join(lines))


if __name__ == "__main__":
    main()
