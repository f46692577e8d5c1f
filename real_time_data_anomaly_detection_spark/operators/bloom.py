"""Bloom-filter join pruning: a JVM-side pre-filter that cuts the big
side of a selective join BEFORE its shuffle.

Spark's own runtime bloom-filter rewrite (`spark.sql.optimizer.
runtime.bloomFilter.enabled`) covers the planner-visible cases; this
operator makes the same pattern available as an explicit, composable
step — the way a 100 TB pipeline prunes a fact scan against a
dimension that is too large to broadcast: rows that fail the bloom
test never enter the exchange, and the exact join afterwards removes
the (bounded-rate) false positives, so the RESULT is exactly the
semi-join — which is what the DuckDB oracle pins.

Everything stays JVM-side and codegen'd: bit positions are
``pmod(xxhash64(key, seed), m)`` expressions, the bitmap ships as a
single array<long> literal (m/64 words; 16 KiB at the default
m = 2^17), and membership is ``getbit`` on ``element_at`` of that
literal — no Python on the data path. Building the filter collects
only the DISTINCT set bit positions (≤ min(|small|·k, m) ints), the
same driver-size bound as broadcasting the dimension's key set.
"""

from __future__ import annotations

import functools
import operator

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.io import load_table
from real_time_data_anomaly_detection_spark.operators.registry import query

DEFAULT_BITS = 1 << 17
DEFAULT_HASHES = 5


def _bit_positions(key: Column, num_bits: int, k: int) -> list[Column]:
    """k bloom bit positions per key: pmod(xxhash64(key, seed), m).
    The seed rides along as a second hashed column — xxhash64's own
    seed is fixed in the SQL surface."""
    return [
        F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(num_bits)) for seed in range(k)
    ]


def bloom_build(
    df: DataFrame,
    key_col: str,
    num_bits: int = DEFAULT_BITS,
    k: int = DEFAULT_HASHES,
) -> list[int]:
    """Distributed bloom build: returns the bitmap as m/64 int64
    words. Only distinct bit positions reach the driver."""
    if num_bits <= 0 or num_bits % 64:
        raise ValueError(f"num_bits must be a positive multiple of 64, got {num_bits}")
    # One collect_set row instead of distinct().collect(): the partial
    # aggregate dedups map-side, the exchange carries one set per task
    # and the driver fetches a single array cell — same distinct
    # position set (bounded by m via pmod), measured 2.5x cheaper on
    # the equivalent video-band fetch (cf. _bk_prune_inlist).
    row = df.select(
        F.explode(F.array(*_bit_positions(F.col(key_col), num_bits, k))).alias("p")
    ).agg(F.collect_set("p").alias("ps")).head()
    words = np.zeros(num_bits // 64, dtype=np.uint64)
    for p in row.ps or []:
        words[p // 64] |= np.uint64(1) << np.uint64(p % 64)
    return [int(w) for w in words.view(np.int64)]


def _bitmap_tests(key: Column, bmp: Column, num_bits: int, k: int) -> Column:
    """Membership predicate for a bitmap column — pure codegen'd
    expressions (element_at + getbit per hash)."""
    tests = [
        F.getbit(
            F.element_at(bmp, (pos / F.lit(64)).cast("int") + F.lit(1)),
            pos % F.lit(64),
        )
        == F.lit(1)
        for pos in _bit_positions(key, num_bits, k)
    ]
    return functools.reduce(operator.and_, tests)


def bloom_might_contain(
    key: Column, words: list[int], num_bits: int, k: int
) -> Column:
    """Membership predicate against a built bitmap, inlined as an
    array literal. NOTE: a LITERAL bitmap costs O(m/64) Python-side
    per expression build (py4j marshals each word; ~1.6 s at the
    2^17-bit default) — fine for small filters and tests, but
    ``bloom_semi_join`` ships the bitmap as a one-row broadcast
    DataFrame instead, which is O(1) plan-side at any m."""
    # Explicit cast: F.lit infers array<int> when every word happens
    # to fit in 32 bits, and getbit then rejects positions >= 32.
    return _bitmap_tests(key, F.lit(words).cast("array<bigint>"), num_bits, k)


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    key_col: str,
    num_bits: int = DEFAULT_BITS,
    k: int = DEFAULT_HASHES,
) -> DataFrame:
    """Exact left-semi join of ``big`` against ``small`` on
    ``key_col``, with a bloom pre-filter pruning ``big`` before the
    join. False positives are removed by the exact join; false
    negatives cannot occur (every true key set all its bits), so the
    result is identical to ``big.join(small, key, "left_semi")`` —
    pinned by the declared oracle and tests/test_bloom.py.

    The bitmap rides as a ONE-ROW broadcast relation (a single
    Arrow-serialized array cell), not a plan literal: a 2^17-bit
    literal costs ~2.7 s of py4j marshalling + analysis per query
    build, the broadcast row ~10 ms — and the plan stays O(1) in m."""
    keys = small.select(key_col).distinct()
    words = bloom_build(keys, key_col, num_bits, k)
    from real_time_data_anomaly_detection_spark.io import local_df

    bmp_df = local_df(big.sparkSession, [(words,)], "_bmp array<bigint>")
    pruned = (
        big.crossJoin(F.broadcast(bmp_df))
        .filter(_bitmap_tests(F.col(key_col), F.col("_bmp"), num_bits, k))
        .drop("_bmp")
    )
    return pruned.join(keys, key_col, "left_semi")


@query(
    "q_bloom_semi_join",
    oracle="""
        SELECT l_returnflag, count(*) AS n_items,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem
        WHERE l_suppkey IN (
            SELECT s_suppkey FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_nationkey < 5)
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-side bloom pruning: lineitem semi-joined to a
    5-nation supplier subset through a bloom pre-filter; result is exactly the plain
    semi-join (the oracle), the bloom only cuts what reaches the
    join."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_returnflag", "l_extendedprice"
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 5)
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        bloom_semi_join(li, supp, "l_suppkey")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("l_returnflag")
    )
