"""Generate PLANS.md: physical-plan properties of the headline queries
at sf0.1 — the evidence that scan pruning / pushdown / join strategy /
shuffle counts are what a 100 TB deployment needs.

Run:  python tools/gen_plans.py
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SHOWCASE = ["q_agg_group", "q_tpch_q3", "q_asof_join", "q_cosine_topk", "q_curation_pipeline"]

QUERIES = [
    "q_agg_group",
    "q_join_inner",
    "q_join_3way",
    "q_join_broadcast",
    "q_tpch_q3",
    "q_tpch_q5",
    "q_tpch_q10",
    "q_window_rank",
    "q_window_tumbling_batch",
    "q_topk",
    "q_asof_join",
    "q_json_get",
    "q_dedup_exact",
    "q_text_tokens",
    "q_cosine_topk",
    "q_embed_neardup",
    "q_ngram_jaccard",
    "q_tpch_q6",
    "q_tpch_q18",
    "q_corpus_clean",
    "q_window_range_frame",
    "q_topk_per_group",
    "q_minhash_neardup",
    "q_tpch_q9",
    "q_tpch_q11",
    "q_tpch_q17",
    "q_tpch_q21",
    "q_decontaminate",
    "q_sample_stratified",
    "q_token_buckets",
    "q_domain_mix",
    "q_pack_sequences",
    "q_resample_ffill",
    "q_anomaly_zscore",
    "q_anomaly_rolling",
    "q_pii_scrub",
    "q_gopher_rules",
    "q_pq_topk",
    "q_dsir_weights",
    "q_token_entropy",
    "q_hash_embed",
    "q_chunk_docs",
    "q_segment_dedup",
    "q_exact_substring_dedup",
    "q_bm25",
    "q_merge_upsert",
    "q_cdc_apply",
    "q_incremental_agg",
    "q_scd2_intervals",
    "q_sample_fixed_per_group",
    "q_lm_perplexity",
    "q_pagerank",
    "q_bloom_semi_join",
    "q_weighted_topk_sample",
    "q_countmin_freq",
    "q_hll_md5",
    "q_curation_pipeline",
    "q_anomaly_mad",
    "q_ewma",
    "q_shard_manifest",
    "q_table_diff",
    "q_skew_salted_join",
    "q_funnel",
    "q_funnel_time",
    "q_retention",
    "q_cohort_ltv",
    "q_sessionize",
    "q_markov_transitions",
    "q_rfm",
    "q_basket_pairs",
    "q_regression",
    "q_edit_neardup",
    "q_prefix_jaccard",
    "q_phrase_search",
    "q_rrf_fusion",
    "q_containment_pairs",
    "q_embed_drift",
    "q_index_phrase_search",
    "q_cluster_stats_md5",
    "q_novelty_scores",
    "q_cusum_alarms",
    "q_anomaly_seasonal",
    "q_quantile_sketch",
    "q_split_leakage_safe",
    "q_data_quality_report",
    "q_hierarchy_flatten",
    "q_kmv_jaccard",
    "q_bpe_encode",
    "q_zorder_layout",
    "q_ohlc_bars",
    "q_url_host_cap",
    "q_url_dedup_report",
    "q_epoch_shuffle",
    "q_temperature_mix",
    "q_ingest_dedup",
    "q_image_neardup_md5",
    "q_audio_fingerprint_md5",
    "q_category_drift",
    "q_peaks_over_threshold",
    "q_image_ahash_md5",
    "q_doc_novelty",
    "q_image_index_md5",
    "q_image_ingest_admit_md5",
    "q_psi_drift",
    "q_ks_drift",
    "q_drift_report",
    "q_emd_drift",
    "q_holt_forecast",
    "q_video_dhash_md5",
    "q_video_index_md5",
    "q_video_ingest_admit_md5",
    "q_video_scene_cuts_md5",
    "q_video_neardup_md5",
    "q_ks_drift_bucketed",
]


def main() -> None:
    from real_time_data_anomaly_detection_spark.operators import REGISTRY
    from real_time_data_anomaly_detection_spark.plans.inspect import (
        count_exchanges,
        formatted_plan,
        has_broadcast_join,
    )
    from real_time_data_anomaly_detection_spark.session import get_spark

    spark = get_spark(app_name="plans")
    sf = "/root/testdata/sf0.1"

    lines = [
        f"# PLANS — physical-plan properties (sf0.1, {spark.sparkContext.master})",
        "",
        "Generated by `tools/gen_plans.py`. `shuffles` counts non-broadcast",
        "exchanges; `pushed` = filters reaching the parquet scan; every",
        "query's full plan is reproducible via",
        "`REGISTRY[name].spark_fn(spark, sf).explain('formatted')`.",
        "",
        "| query | shuffles | broadcast join | pushed filters | codegen |",
        "|---|---|---|---|---|",
    ]
    plans = {}
    for name in QUERIES:
        df = REGISTRY[name].spark_fn(spark, sf)
        plan = formatted_plan(df)
        plans[name] = plan
        n_ex = count_exchanges(df)
        bc = "yes" if has_broadcast_join(df) else "—"
        pushed = "yes" if any(
            "PushedFilters: [" in ln and "[]" not in ln for ln in plan.splitlines()
        ) else "—"
        # pre-execution AQE plans hide the `*` codegen markers; mark
        # those AQE (final plan chosen at runtime)
        cg = (
            "yes"
            if any(ln.strip().startswith("* ") for ln in plan.splitlines())
            else ("AQE" if "AdaptiveSparkPlan" in plan else "—")
        )
        lines.append(f"| `{name}` | {n_ex} | {bc} | {pushed} | {cg} |")

    lines += [
        "",
        "## Showcase plans",
        "",
        "Key structural facts, full `explain('formatted')` output trimmed to",
        "the operator tree:",
        "",
    ]
    for name in SHOWCASE:
        tree = []
        for ln in plans[name].splitlines():
            if ln.startswith("=="):
                continue
            if not ln.strip():
                break  # end of the tree section
            tree.append(ln)
        lines += [f"### `{name}`", "", "```", *tree, "```", ""]

    with open(ROOT / "PLANS.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"PLANS.md: {len(QUERIES)} queries documented")


if __name__ == "__main__":
    main()
