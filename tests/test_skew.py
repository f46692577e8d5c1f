"""Salted-join equivalence with plain operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.functions.skew import (
    salted_join,
)


def _skewed(spark):
    # 90% of rows share key 0 — the classic hot-key shape.
    return spark.range(2000).select(
        F.when(F.col("id") % 10 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
        (F.col("id") * 1.0).alias("v"),
    )


def test_salted_join_equals_plain_join(spark):
    left = _skewed(spark)
    right = spark.range(50).select(F.col("id").alias("k"), F.lit("dim").alias("tag"))
    plain = left.join(right, "k").select("k", "v", "tag")
    salted = salted_join(left, right, "k").select("k", "v", "tag")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_preserves_unmatched(spark):
    left = _skewed(spark)
    right = spark.range(1).select(F.col("id").alias("k"), F.lit("x").alias("tag"))
    plain = left.join(right, "k", "left").select("k", "v", "tag")
    salted = salted_join(left, right, "k", how="left").select("k", "v", "tag")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_rejects_right_outer(spark):
    import pytest

    left = _skewed(spark)
    right = spark.range(5).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="unmatched right"):
        salted_join(left, right, "k", how="full")


def test_hot_key_detection_targets_only_skew(spark):
    from real_time_data_anomaly_detection_spark.functions.skew import hot_keys

    skewed = _skewed(spark)
    assert 0 in hot_keys(skewed, "k")  # the 90% key is found
    uniform = spark.range(2000).select(F.col("id").alias("k"))
    assert hot_keys(uniform, "k") == []  # no key above 5% share


def test_salted_join_no_skew_means_no_replication(spark):
    """With no hot keys the join degrades to a plain join — identical
    plan, no exploded right side."""
    from real_time_data_anomaly_detection_spark.plans.inspect import formatted_plan

    left = spark.range(2000).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    right = spark.range(50).select(F.col("id").alias("k"), F.lit("dim").alias("tag"))
    salted = salted_join(left, right, "k").select("k", "v", "tag")
    assert "Generate explode" not in formatted_plan(salted)
    plain = left.join(right, "k").select("k", "v", "tag")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
