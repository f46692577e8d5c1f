"""Frozen outputs for registry queries that have no oracle.

``q_semantic_dedup`` and ``q_neardup_dedup`` end in
``dedup.connected_components`` and no DuckDB twin checks them. Their
sf0.01 results are frozen here, generated from the code before the
component labeling gained its driver path, in the shape of
``perfbench/pins.json``: row count, XOR of the per-row xxhash64, and
the sum of those hashes mod 1e9+7 (both order-insensitive).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from tests.conftest import SF_DIR as SMALLEST_SF_DIR

SF_DIR = str(Path(SMALLEST_SF_DIR).with_name("sf0.01"))

FROZEN = {
    "q_neardup_dedup": [476, -7936532954703956228, 228451887104],
    "q_semantic_dedup": [39, -3095192311528093129, 19556427933],
}


def digest(df) -> list[int]:
    """[rows, xor, sum] of the per-row xxhash64 over every column."""
    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    r = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor("h").alias("xor"),
        F.sum(F.pmod("h", F.lit(1_000_000_007))).alias("sum"),
    ).head()
    return [int(r["rows"]), int(r["xor"] or 0), int(r["sum"] or 0)]


def test_unoracled_component_queries_match_frozen_digests(spark):
    from real_time_data_anomaly_detection_spark.operators import REGISTRY

    got = {name: digest(REGISTRY[name].spark_fn(spark, SF_DIR)) for name in FROZEN}
    assert got == FROZEN
