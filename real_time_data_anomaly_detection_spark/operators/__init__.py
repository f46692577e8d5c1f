"""Operator registry: every declared query with its DuckDB oracle twin.

Importing this package populates :data:`REGISTRY` with all batch
relational + LLM-pipeline queries. ``__spark_entry__.queries()`` /
``oracle_sql()`` are thin views over it.
"""

from __future__ import annotations

from real_time_data_anomaly_detection_spark.operators.registry import (
    REGISTRY,
    Query,
    query,
)

# Import for registration side effects.
from real_time_data_anomaly_detection_spark.operators import (  # noqa: E402,F401
    relational,
    llm_ops,
    dedup,
    textops,
    asof,
    tpch,
    sqlx,
    similarity,
    pipeline_ops,
    timeseries,
    clustering,
    quantization,
    curation,
    graph,
    bloom,
    sketch,
    bpe,
    behavior,
    sharding,
    multimodal,
)

# ---------------------------------------------------------------------------
# Correctness-gate window.
#
# The per-run correctness gate checks the FIRST 50 registry entries.
# Registration order is import order, which would make that window all
# relational. Reorder the dict (insertion-order preserving) so the first 50
# is a cross-family sample: relational core rows plus flagship rows from
# every SURVEY §2.3 family, each family keeping siblings in the window. All
# 50 are oracle-backed; the full sweeps check the rest, which keep their
# original relative order.
# ---------------------------------------------------------------------------
_GATE_WINDOW = [
    # smoke path first
    "q_scan_project",
    # relational core: filter/project/join/agg/window/set
    "q_filter_range",
    "q_project_compute",
    "q_join_inner",
    "q_join_3way",
    "q_agg_group",
    "q_agg_global",
    "q_window_rank",
    "q_topk",
    "q_window_tumbling_batch",
    # cross-family flagship sample
    "q_ks_drift",
    "q_emd_drift",
    "q_holt_forecast",
    "q_drift_report",
    "q_image_ahash_md5",
    "q_video_dhash_md5",
    "q_video_index_md5",
    "q_video_ingest_admit_md5",
    "q_video_scene_cuts_md5",
    "q_video_neardup_md5",
    "q_ks_drift_bucketed",
    "q_image_neardup_md5",
    "q_category_drift",
    "q_prefix_jaccard",
    "q_split_leakage_safe",
    "q_hierarchy_flatten",
    "q_cusum_alarms",
    "q_quantile_sketch",
    "q_ohlc_bars",
    "q_url_host_cap",
    "q_dedup_exact",
    "q_minhash_neardup_md5",
    "q_components_md5",
    "q_exact_substring_dedup",
    "q_segment_dedup",
    "q_bm25",
    "q_countmin_freq",
    "q_hll_md5",
    "q_pagerank",
    "q_funnel",
    "q_retention",
    "q_shard_manifest",
    "q_merge_upsert",
    "q_scd2_intervals",
    "q_curation_pipeline",
    "q_cosine_topk",
    "q_text_tokens",
    "q_resample_ffill_15m",
    "q_lm_perplexity",
    "q_grouping_sets",
]


def _curate_registry_order() -> None:
    missing = [n for n in _GATE_WINDOW if n not in REGISTRY]
    assert not missing, f"gate window names absent from registry: {missing}"
    ordered = {n: REGISTRY[n] for n in _GATE_WINDOW}
    ordered.update((n, q) for n, q in REGISTRY.items() if n not in ordered)
    # REGISTRY is imported by reference everywhere — mutate, don't rebind.
    REGISTRY.clear()
    REGISTRY.update(ordered)


_curate_registry_order()

__all__ = ["REGISTRY", "Query", "query"]
