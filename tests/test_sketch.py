"""Count-Min and HLL sketch operators: guarantee bounds, accuracy,
and partition invariance (the oracle twin pins cross-engine algebra;
these pin the sketch THEORY holds on the implementation)."""

from __future__ import annotations

import pytest

from tests.conftest import finish

from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.operators.sketch import (
    countmin_build,
    countmin_estimate,
    hll_estimate,
)


def _zipf_items(spark):
    # item i appears (50 - i) times, i = 0..49 — known exact counts
    rows = [(f"item{i}",) for i in range(50) for _ in range(50 - i)]
    return spark.createDataFrame(rows, "item string")


def test_cms_never_underestimates(spark):
    items = _zipf_items(spark)
    exact = {r.item: r.n for r in items.groupBy("item").agg(F.count("*").alias("n")).collect()}
    sk = countmin_build(items, "item", depth=4, width=32)  # tiny: force collisions
    probes = items.select("item").distinct()
    est = {r.item: r.cms_est for r in countmin_estimate(sk, probes, "item", depth=4, width=32).collect()}
    assert est.keys() == exact.keys()
    assert all(est[k] >= exact[k] for k in exact)


def test_cms_exact_when_wide(spark):
    # width 4096 for 50 items: P(any collision in a row) is tiny, and
    # the min over 4 independent rows needs EVERY row to collide on
    # the same item to overestimate — exact equality expected.
    items = _zipf_items(spark)
    exact = {r.item: r.n for r in items.groupBy("item").agg(F.count("*").alias("n")).collect()}
    sk = countmin_build(items, "item", depth=4, width=4096)
    probes = items.select("item").distinct()
    est = {r.item: r.cms_est for r in countmin_estimate(sk, probes, "item", depth=4, width=4096).collect()}
    assert est == exact


def test_cms_absent_item_estimates_zero_or_collision(spark):
    items = _zipf_items(spark)
    sk = countmin_build(items, "item", depth=4, width=4096)
    probes = spark.createDataFrame([("never-seen",)], "item string")
    est = countmin_estimate(sk, probes, "item", depth=4, width=4096).collect()
    assert est[0].cms_est == 0


def test_cms_build_from_counts_equals_stream_build(spark):
    """countmin_build_from_counts over pre-aggregated (item, count)
    rows must produce the IDENTICAL sparse counter relation as
    countmin_build over the expanded occurrence stream (associativity
    of the bucket sums) — the equivalence q_countmin_freq's
    single-pass plan rests on."""
    from real_time_data_anomaly_detection_spark.operators.sketch import (
        countmin_build_from_counts,
    )

    items = _zipf_items(spark)
    counts = items.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    a = sorted(
        (r.row, r.bucket, r.cnt)
        for r in countmin_build(items, "item", depth=4, width=32).collect()
    )
    b = sorted(
        (r.row, r.bucket, r.cnt)
        for r in countmin_build_from_counts(
            counts, "item", "n", depth=4, width=32
        ).collect()
    )
    assert a == b


def test_hll_over_distinct_equals_over_raw(spark):
    """HLL registers are duplicate-insensitive (max of rho per bucket),
    so the estimate over the DISTINCT key relation must equal the
    estimate over the raw stream bit-for-bit — the equivalence
    q_hll_md5's shared-distinct plan rests on."""
    items = _zipf_items(spark).withColumn("g", F.lit("x"))
    raw = hll_estimate(items, "item", ["g"], p=6).collect()
    dis = hll_estimate(items.distinct(), "item", ["g"], p=6).collect()
    assert [(r.g, r.hll_est) for r in raw] == [(r.g, r.hll_est) for r in dis]


def test_cms_partition_invariance(spark):
    items = _zipf_items(spark)
    probes = items.select("item").distinct()

    def run(df):
        sk = countmin_build(df, "item", depth=4, width=64)
        return sorted(
            (r.item, r.cms_est)
            for r in countmin_estimate(sk, probes, "item", depth=4, width=64).collect()
        )

    assert run(items.repartition(1)) == run(items.repartition(13))


def test_hll_error_within_bound(spark):
    # 2000 distinct keys, m=64 registers: standard error 1.04/8 = 13%;
    # allow 3 sigma.
    df = spark.range(2000).select(F.lit("g").alias("g"), F.col("id").alias("k"))
    est = hll_estimate(df, "k", ["g"], p=6).collect()[0].hll_est
    assert est == pytest.approx(2000, rel=0.39)


def test_hll_linear_counting_small_range(spark):
    # 10 distinct with 64 registers lands in the linear-counting
    # branch: near-exact.
    df = spark.range(10).select(F.lit("g").alias("g"), F.col("id").alias("k"))
    est = hll_estimate(df, "k", ["g"], p=6).collect()[0].hll_est
    assert est == pytest.approx(10, abs=3)


def test_hll_duplicates_do_not_move_estimate(spark):
    # Cardinality sketch: 2000 distinct keys x 5 copies == 1 copy.
    once = spark.range(2000).select(F.lit("g").alias("g"), F.col("id").alias("k"))
    five = once.crossJoin(spark.range(5)).select("g", "k")
    a = hll_estimate(once, "k", ["g"], p=6).collect()[0].hll_est
    b = hll_estimate(five, "k", ["g"], p=6).collect()[0].hll_est
    assert a == b


def test_hll_per_group_independent(spark):
    df = spark.range(1000).select(
        (F.col("id") % 2).cast("string").alias("g"),
        # group "0": 500 distinct; group "1": the same 50 keys repeated
        F.when(F.col("id") % 2 == 0, F.col("id")).otherwise(F.col("id") % 100).alias("k"),
    )
    got = {r.g: r.hll_est for r in hll_estimate(df, "k", ["g"], p=6).collect()}
    assert got["0"] == pytest.approx(500, rel=0.4)
    assert got["1"] == pytest.approx(50, rel=0.4)


def test_cms_merge_equals_whole(spark):
    from real_time_data_anomaly_detection_spark.operators.sketch import countmin_merge

    items = _zipf_items(spark)
    half_a = items.filter(F.crc32(F.col("item")) % 2 == 0)
    half_b = items.filter(F.crc32(F.col("item")) % 2 == 1)
    merged = countmin_merge(
        countmin_build(half_a, "item", depth=4, width=64),
        countmin_build(half_b, "item", depth=4, width=64),
    )
    whole = countmin_build(items, "item", depth=4, width=64)
    assert sorted(merged.collect()) == sorted(whole.collect())


def test_hll_merge_equals_whole(spark):
    from real_time_data_anomaly_detection_spark.operators.sketch import (
        hll_estimate_from_registers,
        hll_merge,
        hll_registers,
    )

    df = spark.range(3000).select(F.lit("g").alias("g"), F.col("id").alias("k"))
    # overlapping shards: mergeability must handle shared keys too
    shard_a = df.filter(F.col("k") < 2000)
    shard_b = df.filter(F.col("k") >= 1000)
    merged_regs = hll_merge(
        ["g"],
        hll_registers(shard_a, "k", ["g"]),
        hll_registers(shard_b, "k", ["g"]),
    )
    groups = df.select("g").distinct()
    merged = hll_estimate_from_registers(merged_regs, groups, ["g"]).collect()[0].hll_est
    whole = hll_estimate_from_registers(
        hll_registers(df, "k", ["g"]), groups, ["g"]
    ).collect()[0].hll_est
    assert merged == whole


def test_cms_streaming_equals_batch(spark, tmp_path):
    """Streaming CMS: the aggregation state is the d*w counter table —
    BOUNDED regardless of vocabulary size — and the final sketch must
    equal the batch sketch over the same rows."""
    import os

    from real_time_data_anomaly_detection_spark.streaming.source import (
        file_replay_source,
    )

    items = _zipf_items(spark)
    path = str(tmp_path / "items")
    os.makedirs(path)
    pdf = items.toPandas()
    for i in range(3):
        pdf.iloc[i::3].to_parquet(os.path.join(path, f"part-{i}.parquet"), index=False)

    stream = file_replay_source(spark, path, items.schema)
    sk_stream = countmin_build(stream, "item", depth=4, width=64)
    q = (
        sk_stream.writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    finish(q)
    got = sorted(spark.table("cms_stream").collect())
    want = sorted(countmin_build(items, "item", depth=4, width=64).collect())
    assert got == want


def test_hll_bad_precision_rejected(spark):
    df = spark.range(5).select(F.lit("g").alias("g"), F.col("id").alias("k"))
    with pytest.raises(ValueError, match="precision p"):
        hll_estimate(df, "k", ["g"], p=2)


def test_cms_depth_bounded_by_digest_chunks(spark):
    """The chunked-digest scheme has exactly four 32-bit chunks per
    md5; depth > 4 must raise (width is the right error knob), and
    depth=4 must emit buckets for rows 0..3."""
    import pytest

    items = spark.createDataFrame([("a",), ("b",)], "item string")
    with pytest.raises(ValueError, match="widen instead"):
        countmin_build(items, "item", depth=5, width=64)
    rows = {r.row for r in countmin_build(items, "item", depth=4, width=64).collect()}
    assert rows == {0, 1, 2, 3}


def _bottom_k(df, k=64):
    from pyspark.sql import Window

    w = Window.orderBy("dg", "rid")
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def test_kmv_merge_equals_whole(spark):
    """The KMV bottom-k-by-digest sample is a commutative idempotent
    set algebra: re-bottom-k over the UNION of per-shard bottom-k's
    equals the bottom-k of the whole — the mergeability claim in
    q_quantile_sketch's docstring, and the reason it can replace
    merge-order-dependent compactors (GK/KLL) cross-engine."""
    rows = [(i, (i * 37) % 1000) for i in range(2000)]
    df = spark.createDataFrame(rows, "rid long, v long").withColumn(
        "dg", F.md5(F.col("rid").cast("string"))
    )
    whole = {tuple(r) for r in _bottom_k(df).collect()}
    shards = [df.filter(F.col("rid") % 3 == i) for i in range(3)]
    merged = _bottom_k(_bottom_k(shards[0]).union(_bottom_k(shards[1])).union(_bottom_k(shards[2])))
    assert {tuple(r) for r in merged.collect()} == whole


def test_kmv_quantile_rank_accuracy(spark):
    """Each published estimate's TRUE rank (fraction of the group's
    rows <= estimate) is within +-5 percentile points of the target —
    the ~1/sqrt(k) sampling bound at k=512 with margin."""
    from real_time_data_anomaly_detection_spark.io import load_table
    from real_time_data_anomaly_detection_spark.operators import REGISTRY

    sf = "/root/testdata/sf0.01"
    est = REGISTRY["q_quantile_sketch"].spark_fn(spark, sf).collect()
    li = (
        load_table(spark, sf, "lineitem")
        .select(
            "l_returnflag",
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        )
        .cache()
    )
    totals = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag").agg(F.count("*").alias("n")).collect()
    }
    for r in est:
        below = li.filter(
            (F.col("l_returnflag") == r["l_returnflag"])
            & (F.col("cents") <= r["est_cents"])
        ).count()
        true_rank = 100.0 * below / totals[r["l_returnflag"]]
        assert abs(true_rank - r["q"]) <= 5.0, (r, true_rank)
    li.unpersist()


def test_kmv_sketch_plans_window_group_limit(spark):
    """The rank<=k digest filter must push a per-partition group limit
    BEFORE the exchange (WindowGroupLimit) — the property that keeps
    the shuffle sketch-sized at 100 TB."""
    from real_time_data_anomaly_detection_spark.operators import REGISTRY

    df = REGISTRY["q_quantile_sketch"].spark_fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_kmv_jaccard_within_sampling_bound(spark):
    """The KMV overlap estimator lands within one sigma (1/sqrt(k) =
    62500 ppm at k=256) of the exact Jaccard on the fixture sets —
    deterministic data, so this pins the estimator's behavior, not a
    probabilistic hope."""
    from real_time_data_anomaly_detection_spark.operators import REGISTRY

    r = REGISTRY["q_kmv_jaccard"].spark_fn(spark, "/root/testdata/sf0.01").collect()[0]
    assert r["k"] == 256 and 0 < r["matches"] <= r["k"]
    assert abs(r["est_jaccard_ppm"] - r["exact_jaccard_ppm"]) <= 62500


def test_hll_md5_exact_side_ignores_null_keys(spark, tmp_path):
    """q_hll_md5's exact_nd is count(DISTINCT l_partkey) per flag, as
    in its oracle: a (flag, NULL) pair in the shared distinct relation
    must not count as a key."""
    from real_time_data_anomaly_detection_spark.operators.sketch import q_hll_md5

    rows = [
        ("A", 1), ("A", 2), ("A", 2), ("A", None),
        ("R", 3), ("R", None), ("R", None),
        ("N", 4), ("N", 5), ("N", 6),
    ]
    spark.createDataFrame(rows, "l_returnflag string, l_partkey long").write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    got = {r.l_returnflag: r.exact_nd for r in q_hll_md5(spark, str(tmp_path)).collect()}
    assert got == {"A": 2, "R": 1, "N": 3}
