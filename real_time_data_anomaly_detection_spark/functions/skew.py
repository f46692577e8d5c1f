"""Skew mitigation for joins.

AQE's skew-join handling (on by default in session.py) covers
sort-merge joins it can observe; salting is the explicit fallback for
joins where one key dominates so badly that even split partitions
overwhelm a task. The helpers are pure DataFrame transforms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_keys(df: DataFrame, key: str, support: float = 0.05) -> list:
    """Keys holding more than ``support`` of ``df``'s rows.

    Two bounded passes, no shuffle: the Karp/freqItems heavy-hitters
    sketch nominates ≤ 1/support candidates (it returns a superset —
    on uniform data it still emits arbitrary keys), then one global
    aggregate confirms each candidate's true share so cold keys are
    never salted/replicated."""
    cands = [k for k in df.stat.freqItems([key], support).head()[0] if k is not None]
    if not cands:
        return []
    counts = df.agg(
        F.count(F.lit(1)).alias("_total"),
        *[
            F.sum(F.when(F.col(key) == F.lit(k), 1).otherwise(0)).alias(f"_c{i}")
            for i, k in enumerate(cands)
        ],
    ).head()
    total = counts["_total"] or 0
    return [
        k for i, k in enumerate(cands) if total and counts[f"_c{i}"] / total > support
    ]


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    how: str = "inner",
    salt_buckets: int = 16,
    seed: int = 42,
    hot_support: float = 0.05,
) -> DataFrame:
    """Equi-join with the LEFT side's HOT keys spread over
    ``salt_buckets`` partitions.

    Hot keys (share > ``hot_support``, detected with the one-pass
    freqItems sketch) get a random salt in [0, buckets) and are
    replicated on the right side; every other key joins on salt 0 with
    NO replication — so a skew-free input pays nothing beyond the
    sketch pass, and the right side grows by |hot| * buckets rows, not
    |right| * buckets. Join key becomes (key, salt), so one hot key
    fans across `buckets` reducers. Row-level results are identical to
    a plain join for inner/left/semi/anti; right/full would emit each
    UNMATCHED right row once per salt replica, so they are rejected.
    """
    if how in ("right", "rightouter", "right_outer", "full", "outer", "fullouter", "full_outer"):
        raise ValueError(
            f"salted_join cannot preserve unmatched right rows (how={how!r}); "
            "salt the other side instead"
        )
    hot = hot_keys(left, key, hot_support)
    if not hot:
        return left.join(right, [key], how)
    is_hot = F.col(key).isin(hot)
    salted_l = left.withColumn(
        "_salt",
        F.when(is_hot, (F.rand(seed) * salt_buckets).cast("int")).otherwise(F.lit(0)),
    )
    salted_r = right.withColumn(
        "_salt",
        F.explode(
            F.when(is_hot, F.sequence(F.lit(0), F.lit(salt_buckets - 1))).otherwise(
                F.array(F.lit(0))
            )
        ),
    )
    out = salted_l.join(salted_r, [key, "_salt"], how)
    return out.drop("_salt")
