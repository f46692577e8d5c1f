"""Physical-plan regression tests: the scale properties that make
queries viable at 100 TB, asserted via explain() (SURVEY.md §5.2.5).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.io import load_table
from real_time_data_anomaly_detection_spark.operators import REGISTRY
from real_time_data_anomaly_detection_spark.plans import (
    count_exchanges,
    formatted_plan,
    has_broadcast_join,
    has_pushed_filters,
    scan_read_schema,
)
from tests.conftest import SF_DIR


def test_filter_pushed_to_parquet_scan(spark):
    df = REGISTRY["q_filter_range"].spark_fn(spark, SF_DIR)
    assert has_pushed_filters(
        df, "GreaterThanOrEqual(l_quantity", "LessThanOrEqual(l_quantity"
    ), formatted_plan(df)


def test_column_pruning_reaches_reader(spark):
    df = REGISTRY["q_scan_project"].spark_fn(spark, SF_DIR)
    cols = scan_read_schema(df)
    assert set(cols) == {"event_id", "event_type", "value"}, cols


def test_dim_join_broadcasts(spark):
    df = REGISTRY["q_join_broadcast"].spark_fn(spark, SF_DIR)
    assert has_broadcast_join(df)
    assert count_exchanges(df) == 0  # broadcast ⇒ no shuffle exchange


def test_fact_join_broadcasts_small_side_under_aqe(spark):
    # orders ⋈ customer at small SF: AQE should pick broadcast at
    # runtime; statically we at least require no more than one shuffle
    # pair. Materialize to let AQE finalize, then check the final plan.
    df = REGISTRY["q_join_inner"].spark_fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "AdaptiveSparkPlan" in plan


def test_agg_has_partial_aggregation(spark):
    """groupBy must plan partial (map-side) HashAggregate before the
    exchange — the thing that makes 100 TB aggregation feasible."""
    df = REGISTRY["q_agg_group"].spark_fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2, plan
    assert count_exchanges(df) == 1


def test_topk_avoids_global_sort(spark):
    df = REGISTRY["q_topk"].spark_fn(spark, SF_DIR)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_whole_stage_codegen_in_hot_paths(spark):
    df = REGISTRY["q_project_compute"].spark_fn(spark, SF_DIR)
    plan = formatted_plan(df)
    # formatted mode marks codegen'd operators with a leading '*'
    assert any(
        ln.strip().startswith("* ") for ln in plan.splitlines()
    ), plan


def test_asof_join_single_shuffle(spark):
    """The union-trick as-of join must cost one shuffle (the window
    partitionBy), not a join + sort cascade."""
    df = REGISTRY["q_asof_join"].spark_fn(spark, SF_DIR)
    assert count_exchanges(df) <= 1, formatted_plan(df)


def test_cosine_topk_is_scan_plus_topk(spark):
    """Brute-force cosine top-k: no exchange except the final top-k
    gather — the probe is inlined, not joined."""
    df = REGISTRY["q_cosine_topk"].spark_fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert "TakeOrderedAndProject" in plan


def test_events_ts_filter_prunes(spark):
    """Predicate on converted-ts events still prunes other columns."""
    ev = load_table(spark, SF_DIR, "events").filter(
        F.col("event_type") == "error"
    ).select("event_id")
    assert has_pushed_filters(ev, "EqualTo(event_type,error)")
    cols = scan_read_schema(ev)
    assert "props" not in cols and "value" not in cols


def test_tpch_q6_filters_reach_scan(spark):
    """Q6 is the pushdown poster child: every predicate must reach the
    parquet reader, and the plan is scan -> partial agg -> final agg."""
    from real_time_data_anomaly_detection_spark.operators import REGISTRY
    from real_time_data_anomaly_detection_spark.plans.inspect import (
        count_exchanges,
        has_pushed_filters,
    )

    df = REGISTRY["q_tpch_q6"].spark_fn(spark, SF_DIR)
    assert has_pushed_filters(df, "l_shipdate", "l_discount", "l_quantity")
    assert count_exchanges(df) == 1  # single partial->final agg exchange


def test_tpch_q18_topk_and_partial_agg(spark):
    from real_time_data_anomaly_detection_spark.operators import REGISTRY
    from real_time_data_anomaly_detection_spark.plans.inspect import formatted_plan

    plan = formatted_plan(REGISTRY["q_tpch_q18"].spark_fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan  # top-100 never global-sorts
    assert "partial_sum" in plan  # HAVING prefilter aggregates map-side


def test_corpus_clean_shuffles_digests_not_text(spark):
    """The dedup exchange must not carry the text column — only the
    sha2 fingerprint and the small stat columns."""
    from real_time_data_anomaly_detection_spark.operators import REGISTRY
    from real_time_data_anomaly_detection_spark.plans.inspect import formatted_plan

    plan = formatted_plan(REGISTRY["q_corpus_clean"].spark_fn(spark, SF_DIR))
    lines = plan.splitlines()
    arg_idx = [i for i, ln in enumerate(lines) if "hashpartitioning(_fp" in ln]
    assert arg_idx, "dedup must partition by the fingerprint"
    # the Exchange node's own Input line (immediately above Arguments)
    # lists what the shuffle carries — the fingerprint + stats, no text
    above = next(
        ln for ln in reversed(lines[: arg_idx[0]]) if ln.strip().startswith("Input")
    )
    assert "_fp#" in above and "text#" not in above, above


def test_topk_per_group_pushes_group_limit(spark):
    """Per-group top-k must plan WindowGroupLimit (per-partition early
    limit before the full sort) — without it every group's full row set
    sorts at the reducer."""
    from real_time_data_anomaly_detection_spark.operators import REGISTRY
    from real_time_data_anomaly_detection_spark.plans.inspect import formatted_plan

    plan = formatted_plan(REGISTRY["q_topk_per_group"].spark_fn(spark, SF_DIR))
    assert "WindowGroupLimit" in plan


def test_no_accidental_cartesians_registry_wide(spark):
    """Global plan-hygiene pin: NO query may plan a CartesianProduct,
    and BroadcastNestedLoopJoin is allowed only where a non-equi join
    is the declared semantics with a bounded broadcast side."""
    # documented: q_cross_join/q_join_theta broadcast a bounded dim
    # side; q_tpch_q11/q_tpch_q22/q_domain_mix/q_tfidf join a ONE-ROW
    # broadcast scalar (total / avg-balance / token-budget / corpus-
    # count subquery) — the right plan for a keyless scalar comparison.
    BNLJ_OK = {
        "q_cross_join",
        "q_join_theta",
        "q_tpch_q11",
        "q_tpch_q22",
        "q_domain_mix",
        "q_tfidf",
        "q_dsir_weights",  # two one-row broadcast scalars (totals, vocab)
        "q_bm25",  # one-row broadcast corpus stats (N, avgdl, df per term)
        "q_rrf_fusion",  # inherits q_bm25's one-row stats broadcast
        "q_lm_perplexity",  # one-row broadcast vocab size V
        "q_hll_md5",  # 64-row broadcast register scaffold (dense slots)
        "q_bloom_semi_join",  # one-row broadcast bloom bitmap
        "q_kmv_jaccard",  # four one-row scalar relations cross-combined
        "q_zorder_layout",  # one-row broadcast min/max quantization stats
        "q_temperature_mix",  # one-row broadcast weight-sum scalar
        "q_category_drift",  # one-row broadcast window-totals scalar
        # exact_group_quantiles' in-plan auto bucket width: a one-row
        # min/max broadcast crossed into the bucketing projection
        "q_peaks_over_threshold",
        "q_psi_drift",
        "q_ks_drift_bucketed",  # same psi_bucket_edges quantile plan
    }
    # Queries whose CONSTRUCTION executes jobs (index builds / iterative
    # training) are excluded from this fast lazy-plan loop and instead
    # pinned post-build in test_no_cartesians_post_build_iterative below
    # (the same invariant, on the final returned DataFrame's plan).
    offenders = {}
    for name, q in sorted(REGISTRY.items()):
        if name in ITERATIVE_BUILD:
            continue
        plan = formatted_plan(q.spark_fn(spark, SF_DIR))
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


# Queries that execute jobs at plan-construction time (index builds,
# iterative components/training). Their FINAL DataFrame plan is pinned
# post-build by the test below.
ITERATIVE_BUILD = {
    "q_ivf_probe",
    "q_ann_batch",
    "q_neardup_dedup",
    "q_kmeans",
    "q_semantic_dedup",
    "q_ivfpq_topk",
    "q_components_md5",
    "q_pca_project",  # pca_fit collects d² partials at build
    "q_pagerank",  # iterative rank propagation (jobs at build)
    "q_bpe_merges",  # iterative argmax training (jobs at build)
    "q_quality_classifier",  # GD training loop (jobs at build)
    "q_triangles",  # counts executed at build (persisted edge set)
    "q_index_phrase_search",  # text-index build + bigram collect at build
    "q_hierarchy_flatten",  # pointer-doubling rounds (jobs at build)
}


def test_no_cartesians_post_build_iterative(spark):
    """The iterative/index-building queries excluded from the lazy registry-wide loop get the SAME
    cartesian/BNLJ invariant asserted on the final returned DataFrame
    (construction jobs run; the plan checked is the one a consumer
    executes). q_ann_batch's BNLJ is the documented crossJoin with the
    broadcast CENTROIDS table (n_cells=16 rows of index metadata,
    similarity.py:316-318) — bounded, never the corpus."""
    POST_BUILD_BNLJ_OK = {"q_ann_batch"}
    offenders = {}
    for name in sorted(ITERATIVE_BUILD):
        plan = formatted_plan(REGISTRY[name].spark_fn(spark, SF_DIR))
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in POST_BUILD_BNLJ_OK:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


def test_partitionless_windows_whitelisted_registry_wide(spark):
    """The bench run's two `WindowExec: No Partition Defined`
    warnings must stay unambiguous forever — a
    registry-wide pin (same harness as the cartesian pin) asserting
    the ONLY partition-less window-family nodes sit on
    bounded-cardinality relations, by query-name whitelist:

    - q_rfm: three global ntile(5) passes over the CUSTOMER-sized
      rollup (a dimension, never the orders fact; the operator's
      docstring documents the percent_rank swap for larger
      populations).
    - q_rrf_fusion: rank over the fused per-query top-k candidate
      union — k-bounded by construction.
    - q_drift_report: global window totals over the per-event_type
      triptych relation (|event_types| rows — the fused plan
      replaced the one-row-broadcast BNLJ with this so the relation
      keeps a single consumer and the input is scanned exactly once).

    Iterative/index-building queries were surveyed post-build the
    same way and plan ZERO partition-less windows; they are
    excluded here only to keep this loop lazy, the cartesian
    post-build test already executes them."""
    from real_time_data_anomaly_detection_spark.operators import REGISTRY
    from real_time_data_anomaly_detection_spark.plans.inspect import (
        partitionless_windows,
    )

    WINDOW_OK = {"q_rfm", "q_rrf_fusion", "q_drift_report"}
    offenders = {}
    for name, q in sorted(REGISTRY.items()):
        if name in ITERATIVE_BUILD:
            continue
        w = partitionless_windows(q.spark_fn(spark, SF_DIR))
        if w and name not in WINDOW_OK:
            offenders[name] = w
    assert not offenders, offenders


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_size_gated_checkpoint_fires(spark):
    """The size-gated materialization must actually FIRE for small
    inputs: pyspark's stats().sizeInBytes() started returning a plain
    int, so the old `.toString()` call raised AttributeError and the
    except-branch silently disabled every gate — all three multi-
    consumer relations (minhash arr, prefix arr, exact-substring
    grams) recomputed their corpus subplan per consumer (q_prefix_
    jaccard re-ran the scan+shingle chain serially, +4-6 s at sf0.1).
    Pin both the estimator and the checkpoint's presence in the plan,
    for the operators and for the registry queries whose checkpoint
    the gate guards."""
    from real_time_data_anomaly_detection_spark.operators.dedup import (
        minhash_neardup_pairs,
        prefix_filter_jaccard,
    )
    from real_time_data_anomaly_detection_spark.plans.inspect import (
        MATERIALIZE_MAX_BYTES,
        plan_size_bytes,
    )

    # must be a FILE source: in-memory relations report Long.MaxValue
    # (unknown) and correctly fall to the recompute branch
    d = load_table(spark, SF_DIR, "documents")
    est = plan_size_bytes(d)
    assert 0 < est <= MATERIALIZE_MAX_BYTES, est
    for q in (minhash_neardup_pairs(d), prefix_filter_jaccard(d)):
        assert "ExistingRDD" in _executed(q), "checkpoint missing from plan"
    for name in (
        "q_countmin_freq",
        "q_hll_md5",
        "q_video_index_md5",  # video_index_match
        "q_video_neardup_md5",  # video_neardup_pairs
    ):
        plan = _executed(REGISTRY[name].spark_fn(spark, SF_DIR))
        assert "ExistingRDD" in plan, f"{name}: checkpoint missing from plan"


def test_materialize_gate_skips_large_inputs(spark):
    """Above MATERIALIZE_MAX_BYTES the helper returns its input
    untouched: no checkpoint in the plan. Without ``gate_on`` it
    always checkpoints."""
    from real_time_data_anomaly_detection_spark.plans.inspect import (
        materialize,
    )

    df = spark.range(10).selectExpr("id % 3 AS k")
    big = spark.range(1 << 40)  # Range estimate: 8 TiB
    gated = materialize(df, gate_on=big)
    assert gated is df
    assert "ExistingRDD" not in _executed(gated)
    assert "ExistingRDD" in _executed(materialize(df, eager=False))


def test_broadcast_if_small_gates_on_the_input(spark):
    """The broadcast hint follows ``gate_on``'s size estimate: a small
    known-size input (spark.range(1000), 8 KB) broadcasts the relation;
    a huge one (spark.range(1 << 40), 8 TiB) and an in-memory one
    (unknown estimate) leave it unhinted. Both join sides are
    in-memory, so without the hint Spark cannot pick a broadcast."""
    from real_time_data_anomaly_detection_spark.plans.inspect import (
        broadcast_if_small,
    )

    left = spark.createDataFrame([(i, i) for i in range(20)], "k long, a long")
    right = spark.createDataFrame([(i, -i) for i in range(20)], "k long, b long")
    small = broadcast_if_small(right, gate_on=spark.range(1000))
    assert has_broadcast_join(left.join(small, "k"))
    for gate in (spark.range(1 << 40), left):
        unhinted = broadcast_if_small(right, gate_on=gate)
        assert unhinted is right
        assert not has_broadcast_join(left.join(unhinted, "k"))


def test_sort_past_boundary_checkpoints_under_the_sort(spark):
    """sort_past_boundary's checkpoint is the sort's direct logical
    child, so the range-sampling job reads the checkpoint instead of
    re-running the plan under it."""
    from real_time_data_anomaly_detection_spark.plans.inspect import (
        sort_past_boundary,
    )

    df = spark.range(10).selectExpr("id % 3 AS k", "id")
    plan = sort_past_boundary(df, "k", "id")._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "Sort", plan.toString()
    assert plan.child().getClass().getSimpleName() == "LogicalRDD", plan.toString()


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Partitioned fact ⋈ filtered dim must plan a dynamicpruning
    partition filter on the fact scan — at 100 TB this is the
    difference between scanning every date partition and only the
    ones the dim filter selects. The dim category is an arbitrary
    (non-derivable) mapping so static predicate inference cannot
    shortcut the runtime pruning."""
    import random

    from pyspark.sql import functions as F

    fact_dir = str(tmp_path / "fact_part")
    fact = spark.range(50_000).select(
        "id", (F.col("id") % 20).alias("pk"), (F.col("id") * 3 % 97).alias("v")
    )
    fact.write.partitionBy("pk").mode("overwrite").parquet(fact_dir)

    rng = random.Random(42)
    cats = [(pk, rng.randint(0, 4)) for pk in range(20)]
    dim = spark.createDataFrame(cats, "pk long, cat int")

    j = (
        spark.read.parquet(fact_dir)
        .join(F.broadcast(dim.filter(F.col("cat") == 1)), "pk")
        .groupBy("pk")
        .agg(F.sum("v").alias("s"))
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "DPP did not fire on the fact scan"
    # and it actually executes correctly
    want_pks = {pk for pk, c in cats if c == 1}
    got_pks = {r.pk for r in j.collect()}
    assert got_pks == want_pks


def test_decontaminate_broadcasts_benchmark_side(spark):
    """Decontamination must broadcast the (curated, small) benchmark
    shingle set — reshuffling the training corpus against an eval set
    is the failure mode this operator exists to avoid."""
    plan = formatted_plan(REGISTRY["q_decontaminate"].spark_fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_weighted_sample_plans_window_group_limit(spark):
    """The A-ES sampler's docstring claims per-partition top-m heaps
    before the exchange — pin WindowGroupLimit in the plan."""
    from real_time_data_anomaly_detection_spark.operators import REGISTRY
    from real_time_data_anomaly_detection_spark.plans.inspect import formatted_plan

    plan = formatted_plan(
        REGISTRY["q_weighted_topk_sample"].spark_fn(spark, SF_DIR)
    )
    assert "WindowGroupLimit" in plan


def test_funnel_stage_filters_pushed(spark):
    """Each funnel stage filters event_type at the scan — the filter
    must reach PushedFilters, not evaluate post-scan only."""
    from real_time_data_anomaly_detection_spark.operators import REGISTRY
    from real_time_data_anomaly_detection_spark.plans.inspect import formatted_plan

    plan = formatted_plan(REGISTRY["q_funnel"].spark_fn(spark, SF_DIR))
    assert "PushedFilters" in plan and "event_type" in plan


def test_url_host_cap_single_data_exchange(spark):
    """url_host_cap: ONE host-keyed exchange must feed BOTH windows —
    hash(host) satisfies ClusteredDistribution for (host, canon_url)
    too — and both rank-filters must plan WindowGroupLimit. The only
    other exchange is the presentation orderBy."""
    from real_time_data_anomaly_detection_spark.operators import REGISTRY
    from real_time_data_anomaly_detection_spark.plans.inspect import (
        count_exchanges,
        formatted_plan,
    )

    df = REGISTRY["q_url_host_cap"].spark_fn(spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
    assert plan.count("WindowGroupLimit") >= 2
    assert count_exchanges(df) == 2  # repartition(host) + final sort


def test_ingest_dedup_corpus_never_shuffles(spark):
    """The tagged-union broadcast anti-join: every join in
    q_ingest_dedup must be broadcast-hash (the corpus side streams
    map-side through all of them); the only exchanges are batch-sized
    (intra-batch dedup windows + presentation sort). A SortMergeJoin
    or ShuffledHashJoin anywhere means the corpus got reshuffled.
    Both key kinds ride ONE corpus pass (tagged
    (kind, key) explode), so exactly one scan subtree carries the
    corpus-side doc_id < 400 pushed filter."""
    from real_time_data_anomaly_detection_spark.operators import REGISTRY
    from real_time_data_anomaly_detection_spark.plans.inspect import (
        formatted_plan,
    )

    df = REGISTRY["q_ingest_dedup"].spark_fn(spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    # single corpus pass: the corpus-side pushed
    # filter appears in exactly one scan subtree
    assert plan.count("LessThan(doc_id,400)") == 1


def test_ingest_dedup_shuffle_fallback_matches_broadcast(spark, tmp_path):
    """The regime follows the batch's size estimate. The same batch
    rows read back from parquet (known, small) plan every dedup hop as
    a broadcast-hash join; held in memory (unknown estimate, as a
    backfill-sized batch would be past the gate) they plan
    key-keyed shuffle joins instead of broadcasting a relation of
    unknown size. Both regimes admit IDENTICAL rows."""
    from real_time_data_anomaly_detection_spark.io import load_table
    from real_time_data_anomaly_detection_spark.operators.pipeline_ops import (
        _SYNTH_URL_SQL,
        ingest_dedup,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    u = d.select("doc_id", "text", F.expr(_SYNTH_URL_SQL).alias("url"))
    corpus = u.filter(F.col("doc_id") < 400)
    rows = u.filter(F.col("doc_id") >= 400).collect()
    assert rows
    in_memory = spark.createDataFrame(rows, u.schema)
    in_memory.write.parquet(str(tmp_path / "batch"))
    from_parquet = spark.read.parquet(str(tmp_path / "batch"))

    bc = ingest_dedup(corpus, from_parquet)
    sh = ingest_dedup(corpus, in_memory)
    bc_plan, sh_plan = formatted_plan(bc), formatted_plan(sh)
    assert bc_plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in bc_plan and "ShuffledHashJoin" not in bc_plan
    assert "SortMergeJoin" in sh_plan or "ShuffledHashJoin" in sh_plan
    bc_rows = sorted(map(tuple, bc.collect()))
    assert bc_rows and bc_rows == sorted(map(tuple, sh.collect()))


def test_image_index_match_pushdown_and_broadcast(spark, tmp_path_factory):
    """The persisted image-index match's plan contract (the shape
    behind SCALING.md §7.2's flat ladder row): the batch's packed band
    keys reach the index parquet scan as a PushedFilters In(bk) —
    row-group pruning, so match cost is batch-bound, not corpus-bound
    — and the batch side joins as a broadcast."""
    import numpy as np
    from pyspark.sql import functions as F

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        build_image_index,
        image_index_match,
    )
    from real_time_data_anomaly_detection_spark.plans.inspect import (
        formatted_plan,
        has_broadcast_join,
    )

    rng = np.random.RandomState(4)
    rows = [
        (i, b"P6\n12 10\n255\n" + bytes(rng.randint(0, 256, 360, dtype=np.int64) % 256))
        for i in range(40)
    ]
    root = tmp_path_factory.mktemp("imgidx_plan")
    src = str(root / "imgs")
    spark.createDataFrame(rows, "media_id long, payload binary").write.parquet(src)
    imgs = spark.read.parquet(src)
    idx_path = str(root / "idx")
    build_image_index(imgs.filter(F.col("media_id") < 30), idx_path)
    idx = spark.read.parquet(f"{idx_path}/seed")
    matched = image_index_match(idx, imgs.filter(F.col("media_id") >= 30))
    plan = formatted_plan(matched)
    assert "PushedFilters" in plan and "In(bk" in plan
    assert has_broadcast_join(matched)


def test_drift_report_single_scan(spark):
    """The fused q_drift_report derives all three drift statistics
    (chi²/PSI/KS) from ONE pass — the executed plan runs exactly one
    FileScan of events (the composed body paid three scans + three event-sized aggregations). Counted on
    the post-execution adaptive plan, skipping reused exchanges."""
    from real_time_data_anomaly_detection_spark.operators import REGISTRY
    from real_time_data_anomaly_detection_spark.plans.inspect import (
        executed_file_scans,
    )

    df = REGISTRY["q_drift_report"].spark_fn(spark, SF_DIR)
    assert df.count() > 0
    assert executed_file_scans(df) == 1


def _static_scans(df) -> int:
    """Parquet-scan node count in the STATIC formatted plan (details
    section lines only — '(n) Scan parquet'): structural, SF- and
    execution-independent, so it pins consumer fan-out before AQE or
    exchange reuse can mask a re-inlined subtree."""
    return sum(
        1
        for ln in formatted_plan(df).splitlines()
        if ln.startswith("(") and "Scan parquet" in ln
    )


def test_round13_single_consumer_scan_pins(spark):
    """Every multi-consumer re-inlining fix stays fixed. Catalyst re-inlines a DataFrame subtree once PER
    CONSUMER, so an innocent second reference to an expensive relation
    silently multiplies its scans — these exact counts are the pin
    (before the restructures: psi_drift 22, ks_drift 2,
    ks_drift_bucketed 14, kmv_jaccard 10, funnel 6, funnel_time 8;
    see plans/r13/*_before.txt)."""
    expected = {
        "q_psi_drift": 7,
        "q_ks_drift": 1,
        "q_ks_drift_bucketed": 6,
        "q_kmv_jaccard": 5,
        "q_funnel": 1,
        "q_funnel_time": 1,
    }
    got = {
        name: _static_scans(REGISTRY[name].spark_fn(spark, SF_DIR))
        for name in expected
    }
    assert got == expected
