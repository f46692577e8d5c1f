"""Similarity search over embedding columns.

Two paths:
- brute-force exact cosine top-k (llm_ops.q_cosine_topk): one scan,
  JVM-side math, TakeOrderedAndProject — the correctness baseline and
  perfectly scalable for single-probe lookups (it's a map + top-k, no
  shuffle of the vectors).
- random-hyperplane LSH (this module): deterministic seeded
  hyperplanes; vectors bucketed by sign-pattern; probes search only
  matching buckets (multi-probe over Hamming-adjacent buckets for
  recall). At 100 TB the bucket column is a partition/bucketing key, so
  a probe touches a handful of partitions instead of the full corpus.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.functions.vector import (
    array_lit,
    cosine_similarity,
)
from real_time_data_anomaly_detection_spark.operators.registry import query


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _bucket_expr(vec_col, planes: np.ndarray):
    """Sign-pattern bucket id: bit i set iff dot(vec, plane_i) > 0."""
    bits = []
    for i, plane in enumerate(planes):
        lit_plane = array_lit(plane)
        d = F.aggregate(
            F.zip_with(vec_col, lit_plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(d > 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def with_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Add a deterministic LSH ``bucket`` column (2^n_planes buckets).

    At scale, write the table partitioned/bucketed by this column so
    probe queries prune to matching files.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    v = F.col(vec_col).cast("array<double>")
    return df.withColumn("bucket", _bucket_expr(v, planes))


def _kmeans_centroids(
    sample: np.ndarray, k: int, seed: int, iters: int = 10
) -> np.ndarray:
    """Tiny seeded Lloyd's k-means for the IVF coarse quantizer.

    Runs driver-side on a SAMPLE (centroid fitting is O(sample·k·d) and
    needs no distribution; assignment of the full corpus is the
    distributed part). The (n, k, d) difference tensor is allocated
    once and updated in place: a per-iteration broadcast-subtract +
    ``**2`` would build two fresh n·k·d temporaries per iteration,
    measured 1.5× slower on the 16-subspace PQ training loop. The
    subtract/square/sum sequence is the same either way, so centroids
    are bit-identical (pinned by the recall tests)."""
    rng = np.random.default_rng(seed)
    centroids = sample[rng.choice(len(sample), size=k, replace=False)]
    diff = np.empty((len(sample), k, sample.shape[1]))
    for _ in range(iters):
        np.subtract(sample[:, None, :], centroids[None, :, :], out=diff)
        np.square(diff, out=diff)
        assign = diff.sum(axis=2).argmin(axis=1)
        for j in range(k):
            members = sample[assign == j]
            if len(members):
                centroids[j] = members.mean(axis=0)
    return centroids


def with_ivf_cells(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    sample_rows: int = 2048,
    seed: int = 42,
) -> tuple[DataFrame, np.ndarray]:
    """IVF index: assign every vector to its nearest of k centroids.

    Centroids fit on a bounded sample (driver-side numpy — not a
    data-path collect); assignment is a single codegen'd pass comparing
    against k literal arrays. At scale, persist partitioned by ``cell``
    so probes scan only nprobe/k of the data. Returns (df+cell,
    centroids).
    """
    sample = np.array(
        [r[0] for r in df.select(vec_col).limit(sample_rows).collect()],
        dtype=np.float64,
    )
    centroids = _kmeans_centroids(sample, k, seed)
    v = F.col(vec_col).cast("array<double>")
    d2s = []
    for c in centroids:
        lit_c = array_lit(c)
        d2s.append(
            F.aggregate(
                F.zip_with(v, lit_c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, val: acc + val,
            )
        )
    # argmin over k distances as a CASE chain on the running minimum
    cell = F.lit(0)
    best = d2s[0]
    for i in range(1, len(d2s)):
        cell = F.when(d2s[i] < best, F.lit(i)).otherwise(cell)
        best = F.least(best, d2s[i])
    return df.withColumn("cell", cell.cast("int")), centroids


def ivf_topk(
    df: DataFrame,
    probe: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: search only the ``nprobe`` cells whose
    centroids are nearest the probe (candidate fraction ≈ nprobe/k).
    Recall vs the exact scan is asserted in tests/test_similarity.py."""
    celled, centroids = with_ivf_cells(df, vec_col, n_cells, seed=seed)
    p = np.asarray(probe, dtype=np.float64)
    order = (((centroids - p) ** 2).sum(axis=1)).argsort()[:nprobe]
    probe_col = array_lit(probe)
    return (
        celled.filter(F.col("cell").isin([int(c) for c in order]))
        .select(
            id_col,
            F.round(
                cosine_similarity(F.col(vec_col).cast("array<double>"), probe_col), 4
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def _probe_vector(df: DataFrame, id_col: str = "vec_id"):
    """The vec_id=0 embedding as a python list (single-row collect)."""
    row = df.filter(F.col(id_col) == 0).select("embedding").head()
    return [float(x) for x in row[0]]


def _ivf_index_path(sf_dir: str) -> str:
    """Session-cache index dir under /tmp, keyed by the embeddings
    corpus fingerprint (io.corpus_cache_path — shared staleness
    contract with the text and image index caches)."""
    from real_time_data_anomaly_detection_spark.io import corpus_cache_path

    return corpus_cache_path(sf_dir, "embeddings", "ivf")


@query("q_ann_topk")  # approximate (LSH recall) → rows-only
def q_ann_topk(spark, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH multiprobe top-10 for the vec_id=0 probe —
    approximate twin of q_cosine_topk (recall asserted in
    tests/test_similarity.py; rows-only at the gate)."""
    from real_time_data_anomaly_detection_spark.io import load_table

    e = load_table(spark, sf_dir, "embeddings")
    probe = _probe_vector(e)
    return ann_topk(e.filter(F.col("vec_id") != 0), probe, k=10)


@query("q_ivf_probe")  # approximate (IVF recall) → rows-only
def q_ivf_probe(spark, sf_dir: str) -> DataFrame:
    """Persisted-IVF probe: builds the cell-partitioned index once per
    (sf, session) under /tmp, then probes it scanning only nprobe cell
    partitions — the serving-path twin of the fused ivf_topk."""
    from real_time_data_anomaly_detection_spark import fs as _fs
    from real_time_data_anomaly_detection_spark.io import load_table

    e = load_table(spark, sf_dir, "embeddings")
    probe = _probe_vector(e)
    path = _ivf_index_path(sf_dir)
    # _SUCCESS marker, not the bare dir: a crashed partial write must
    # trigger a rebuild, not a read of a torn index
    if not _fs.exists(path + "/centroids/_SUCCESS", spark):
        build_ivf_index(e.filter(F.col("vec_id") != 0), path, n_cells=16)
    return ivf_probe(spark, path, probe, k=10, nprobe=6)


@query("q_ann_batch")  # approximate (IVF recall) → rows-only
def q_ann_batch(spark, sf_dir: str) -> DataFrame:
    """Batched ANN: top-5 neighbors for 20 probe vectors in ONE job
    over the persisted cell-partitioned index (the similarity-join
    shape; single-probe parity asserted in tests/test_similarity.py)."""
    from real_time_data_anomaly_detection_spark import fs as _fs
    from real_time_data_anomaly_detection_spark.io import load_table

    e = load_table(spark, sf_dir, "embeddings")
    path = _ivf_index_path(sf_dir)
    if not _fs.exists(path + "/centroids/_SUCCESS", spark):
        build_ivf_index(e.filter(F.col("vec_id") != 0), path, n_cells=16)
    probes = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    return ivf_probe_batch(spark, path, probes, k=5, nprobe=4)


def build_ivf_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    sample_rows: int = 2048,
    seed: int = 42,
) -> None:
    """Build a persisted IVF index: build once, probe many.

    Writes the corpus partitioned by ``cell`` (one directory per cell,
    so a probe's ``cell IN (...)`` filter becomes Hive-style partition
    pruning — nprobe/n_cells of the files are even opened) plus a tiny
    ``centroids`` table. This splits the one-time O(corpus) index cost
    from the per-probe cost; ``ivf_topk`` above fuses both and is only
    for ad-hoc single queries."""
    celled, centroids = with_ivf_cells(df, vec_col, n_cells, sample_rows, seed)
    (
        celled.select(id_col, vec_col, "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path + "/vectors")
    )
    from real_time_data_anomaly_detection_spark.io import local_df

    cdf = local_df(
        df.sparkSession,
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    )
    cdf.coalesce(1).write.mode("overwrite").parquet(path + "/centroids")


def ivf_probe(
    spark,
    path: str,
    probe: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 4,
) -> DataFrame:
    """Probe a persisted IVF index, scanning only ``nprobe`` cells.

    The centroid lookup reads the tiny centroids table (n_cells rows);
    the corpus scan carries a partition filter on ``cell``, which plan
    assertions pin as actual partition pruning
    (tests/test_similarity.py::test_ivf_probe_prunes_partitions)."""
    p = np.asarray(probe, dtype=np.float64)
    cents = {
        int(r.cell): np.asarray(r.centroid, dtype=np.float64)
        for r in spark.read.parquet(path + "/centroids").collect()
    }
    order = sorted(cents, key=lambda c: float(((cents[c] - p) ** 2).sum()))[:nprobe]
    probe_col = array_lit(probe)
    return (
        spark.read.parquet(path + "/vectors")
        .filter(F.col("cell").isin(order))
        .select(
            id_col,
            F.round(
                cosine_similarity(F.col(vec_col).cast("array<double>"), probe_col), 4
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def ivf_probe_batch(
    spark,
    path: str,
    probes: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
    nprobe: int = 4,
) -> DataFrame:
    """Batched ANN over a persisted IVF index: top-k neighbors for EVERY
    probe row in one job — the similarity-JOIN shape a production
    retrieval pipeline needs (per-probe ``ivf_probe`` calls would plan
    one job per probe).

    Each probe maps to its ``nprobe`` nearest cells via a crossJoin
    with the CENTROIDS table (n_cells rows — a broadcast of the index
    metadata, never the index); the exploded (probe, cell) pairs then
    join the cell-partitioned corpus on ``cell`` so each cell's vectors
    are scanned once per probe that needs them. Per-probe top-k is a
    rank window, which Spark plans as WindowGroupLimit (per-partition
    early-k before the final sort)."""
    from pyspark.sql import Window as W

    cents = spark.read.parquet(path + "/centroids")
    p = probes.select(
        F.col(probe_id_col).alias("_pid"),
        F.col(probe_vec_col).cast("array<double>").alias("_pv"),
    )
    d2 = F.aggregate(
        F.zip_with("_pv", F.col("centroid"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cell_rank = F.row_number().over(W.partitionBy("_pid").orderBy("_d2", "cell"))
    probe_cells = (
        p.crossJoin(F.broadcast(cents))
        .withColumn("_d2", d2)
        .withColumn("_cr", cell_rank)
        .filter(F.col("_cr") <= nprobe)
        .select("_pid", "_pv", "cell")
    )
    vecs = spark.read.parquet(path + "/vectors")
    cos = cosine_similarity(F.col(vec_col).cast("array<double>"), F.col("_pv"))
    nn_rank = F.row_number().over(
        W.partitionBy("_pid").orderBy(F.desc("_cos"), F.asc(id_col))
    )
    return (
        probe_cells.join(vecs, "cell")
        .withColumn("_cos", cos)
        .withColumn("_nr", nn_rank)
        .filter(F.col("_nr") <= k)
        .select(
            F.col("_pid").alias(probe_id_col),
            id_col,
            F.round("_cos", 4).alias("cos_sim"),
            F.col("_nr").alias("rank"),
        )
    )


def ann_topk(
    df: DataFrame,
    probe: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 42,
    multiprobe_hamming: int = 2,
) -> DataFrame:
    """Approximate top-k by cosine: search only LSH buckets within
    ``multiprobe_hamming`` bit-flips of the probe's bucket.

    Candidate fraction ≈ sum_{i<=h} C(p,i)/2^p (h=2, p=8 → ~14%), with
    recall measured against the exact scan in tests/test_similarity.py.
    """
    planes = _hyperplanes(len(probe), n_planes, seed)
    probe_bucket = int(sum((1 << i) for i, p in enumerate(planes) if float(np.dot(p, probe)) > 0))

    bucketed = with_lsh_buckets(df, vec_col, len(probe), n_planes, seed)
    hamming = F.bit_count(
        F.col("bucket").cast("bigint").bitwiseXOR(F.lit(probe_bucket).cast("bigint"))
    )
    probe_col = array_lit(probe)
    return (
        bucketed.filter(hamming <= multiprobe_hamming)
        .select(
            id_col,
            F.round(
                cosine_similarity(F.col(vec_col).cast("array<double>"), probe_col), 4
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )
