"""Distributed k-means (Lloyd's) and SemDeDup-style semantic dedup
over embedding columns.

The sampled driver-side k-means in ``similarity.with_ivf_cells`` is the
right tool for IVF index builds (centroid QUALITY barely moves past a
few hundred thousand samples); this module is the scale path for when
the centroids must be fit on the FULL corpus — the classic Lloyd's
iteration re-expressed as Spark aggregation:

    per iteration:
      map side:  one Arrow-batched numpy pass per partition computes
                 nearest-centroid assignments and emits k×d partial
                 sums (cell, pos, sum, count, sse) — NOT per-row
                 assignments, so the shuffle moves O(partitions·k·d)
                 rows regardless of corpus size;
      reduce:    groupBy(cell, pos) sums the partials (partial_agg
                 map-side combine applies);
      driver:    collects exactly k·d rows (k=16, d=64 → 1024 rows)
                 to rebuild the centroid matrix.

At 100 TB nothing corpus-sized ever reaches the driver or a single
task: the per-iteration cost is one scan + one tiny shuffle, the same
structure Spark MLlib's KMeans uses, with the centroid matrix shipped
to tasks as a closure constant (k·d doubles — kilobytes).

Semantic dedup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
at web-scale through semantic deduplication"): cluster the corpus,
then search for near-duplicate pairs ONLY within each cluster —
turning the O(n²) all-pairs problem into k independent
O((n/k)²) problems that each fit a task. Survivors are picked per
connected dup-group (min id), reusing the pointer-jumping
connected-components operator from ``dedup``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.io import load_table
from real_time_data_anomaly_detection_spark.operators.registry import query
from real_time_data_anomaly_detection_spark.plans.inspect import sort_past_boundary


def _sample_matrix(
    df: DataFrame, vec_col: str, id_col: str, n: int, seed: int
) -> np.ndarray:
    """Deterministic pseudo-random sample as a numpy matrix: the n rows
    with the smallest xxhash64(id, seed) — partitioning-independent,
    one TakeOrderedAndProject job, driver holds n·d doubles."""
    rows = (
        df.select(F.col(vec_col).cast("array<double>").alias("_v"), F.col(id_col).alias("_id"))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
        .limit(n)
        .collect()
    )
    return np.stack([np.asarray(r._v, dtype=np.float64) for r in rows])


def _init_centroids(
    df: DataFrame, vec_col: str, id_col: str, k: int, seed: int, sample: int = 1024
) -> np.ndarray:
    """Deterministic farthest-point (k-center greedy) init over a
    bounded pseudo-random sample.

    The sample is the ``max(k, sample)`` rows with the smallest
    xxhash64(id, seed) — reproducible and partitioning-independent,
    fetched with ONE TakeOrderedAndProject job (never corpus-sized:
    the driver holds sample·d doubles). Greedy selection then picks
    the hash-minimal point and repeatedly the sample point farthest
    from its nearest chosen centroid — O(sample·k·d) driver work.
    Plain random init routinely seeds two centroids in one natural
    cluster and Lloyd's cannot escape; farthest-point spreads seeds
    across well-separated clusters by construction (the classic
    2-approximation for k-center)."""
    S = _sample_matrix(df, vec_col, id_col, max(k, sample), seed)
    if len(S) < k:
        raise ValueError(f"k={k} but corpus has only {len(S)} rows")
    return _farthest_point(S, k)


def _farthest_point(S: np.ndarray, k: int) -> np.ndarray:
    """Greedy k-center seeds: the first sample point, then repeatedly
    the point farthest from its nearest chosen seed."""
    chosen = [0]
    d2 = ((S - S[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        nxt = int(d2.argmax())
        chosen.append(nxt)
        d2 = np.minimum(d2, ((S - S[nxt]) ** 2).sum(axis=1))
    return S[chosen].copy()


def _partial_sums_schema() -> str:
    return "cell int, pos int, s double, cnt bigint, sse double"


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_iters: int = 10,
    seed: int = 42,
) -> tuple[np.ndarray, list[float]]:
    """Fit k-means on the full corpus with distributed Lloyd's
    iterations. Returns (centroids k×d float64, per-iteration inertia
    history — the SSE under the centroids each iteration STARTED with,
    so the list is non-increasing for exact arithmetic).

    Empty cells keep their previous centroid (no re-seeding — keeps
    the procedure deterministic)."""
    vecs = df.select(F.col(vec_col).cast("array<double>").alias("_v"))
    centroids = _init_centroids(df, vec_col, id_col, k, seed)
    d = centroids.shape[1]
    history: list[float] = []

    for _ in range(n_iters):
        C = centroids  # closure constant: k×d doubles shipped per task

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            sums = np.zeros((k, d))
            cnts = np.zeros(k, dtype=np.int64)
            sse = 0.0
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.stack(pdf["_v"].to_numpy())
                # ||x-c||² = ||x||² - 2x·c + ||c||²; argmin over c
                d2 = (
                    (X * X).sum(axis=1)[:, None]
                    - 2.0 * (X @ C.T)
                    + (C * C).sum(axis=1)[None, :]
                )
                cell = d2.argmin(axis=1)
                sse += float(np.maximum(d2[np.arange(len(X)), cell], 0.0).sum())
                np.add.at(sums, cell, X)
                np.add.at(cnts, cell, 1)
            nz = np.nonzero(cnts)[0]
            # one row per (occupied cell, dim) + a single cell=-1
            # sentinel row carrying this task's SSE contribution
            yield pd.DataFrame(
                {
                    "cell": np.append(np.repeat(nz, d), -1).astype(np.int32),
                    "pos": np.append(
                        np.tile(np.arange(d, dtype=np.int32), len(nz)), 0
                    ).astype(np.int32),
                    "s": np.append(sums[nz].ravel(), 0.0),
                    "cnt": np.append(np.repeat(cnts[nz], d), 0),
                    "sse": np.append(np.zeros(len(nz) * d), sse),
                }
            )

        agg = (
            vecs.mapInPandas(partials, _partial_sums_schema())
            .groupBy("cell", "pos")
            .agg(
                F.sum("s").alias("s"),
                F.sum("cnt").alias("cnt"),
                F.sum("sse").alias("sse"),
            )
            .collect()
        )
        history.append(round(sum(r.sse for r in agg), 6))
        new_c = centroids.copy()
        for r in agg:
            if r.cell >= 0 and r.cnt > 0:
                new_c[r.cell, r.pos] = r.s / r.cnt
        centroids = new_c
    return centroids, history


def kmeans_fit_sample(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_iters: int = 10,
    seed: int = 42,
    sample: int = 8192,
) -> np.ndarray:
    """Sample-trained k-means: farthest-point init + numpy Lloyd's on
    a bounded deterministic sample, entirely driver-side after ONE
    TakeOrderedAndProject job.

    This is the scale default for SemDeDup-style uses where k grows
    with the corpus (cells must stay task-sized): full-corpus Lloyd's
    pays O(n·k·d) per iteration — with k ∝ n that is O(n²·d/c) and
    the 600k-row stress tier measured it at 97 s vs ~5 s for the
    candidate GEMM stage it feeds. Centroid QUALITY saturates on a
    sample (FAISS trains coarse quantizers the same way); the full
    corpus then pays exactly one O(n·k·d) assignment pass. Use
    ``kmeans_fit`` when the fit must see every row."""
    S = _sample_matrix(df, vec_col, id_col, max(k, sample), seed)
    if len(S) < k:
        raise ValueError(f"k={k} but corpus has only {len(S)} rows")
    C = _farthest_point(S, k)
    for _ in range(n_iters):
        a = (
            (S * S).sum(axis=1)[:, None] - 2.0 * (S @ C.T) + (C * C).sum(axis=1)[None, :]
        ).argmin(axis=1)
        for j in range(k):
            members = S[a == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def kmeans_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Add nearest-centroid ``cell`` (int) to every row — one
    Arrow-batched numpy pass, no shuffle, all input columns kept."""
    C = centroids.astype(np.float64)
    cols = df.columns
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d2 = (
                (X * X).sum(axis=1)[:, None]
                - 2.0 * (X @ C.T)
                + (C * C).sum(axis=1)[None, :]
            )
            out = pdf[cols].copy()
            out[cell_col] = d2.argmin(axis=1).astype(np.int32)
            yield out

    return df.mapInPandas(assign, f"{fields}, {cell_col} int")


def semantic_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    threshold: float = 0.4,
    n_iters: int = 5,
    seed: int = 42,
    max_cluster_size: int | None = None,
    fit: str = "corpus",
) -> DataFrame:
    """SemDeDup candidate stage: cosine near-dup pairs searched only
    WITHIN k-means cells. Returns (vec_a, vec_b, cos_sim, cell) with
    vec_a < vec_b.

    Per-cell work is one numpy GEMM over that cell's vectors inside a
    grouped ``applyInPandas`` — per-task memory is (n/k)·d doubles,
    so k is the knob that bounds task size at scale (SemDeDup used
    k=50k on LAION-scale corpora). Since k must grow with n,
    ``fit="sample"`` is the scale mode: sample-trained centroids
    (``kmeans_fit_sample``) + ONE distributed assignment pass —
    full-corpus Lloyd's with k ∝ n pays O(n·k·d) PER ITERATION and
    dominated the 600k stress tier (97 s vs ~5 s of GEMM).
    ``max_cluster_size`` is the stop-cluster valve: a degenerate cell
    larger than the cap is dropped from pair search (mirroring the
    stop-bucket caps in dedup.py). Recall vs the exact all-pairs
    baseline is inherently < 1 (pairs straddling a cell boundary are
    unseen); tests pin it on a blob fixture where the clustering
    assumption holds."""
    if fit == "sample":
        centroids = kmeans_fit_sample(df, vec_col, id_col, k=k, n_iters=n_iters, seed=seed)
    else:
        centroids, _ = kmeans_fit(df, vec_col, id_col, k=k, n_iters=n_iters, seed=seed)
    celled = kmeans_assign(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")),
        centroids,
        vec_col="_v",
    )

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "vec_a": pd.Series(dtype="int64"),
                "vec_b": pd.Series(dtype="int64"),
                "cos_sim": pd.Series(dtype="float64"),
                "cell": pd.Series(dtype="int32"),
            }
        )
        n = len(pdf)
        if n < 2 or (max_cluster_size is not None and n > max_cluster_size):
            return empty
        X = np.stack(pdf["_v"].to_numpy())
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        sims = X @ X.T
        ids = pdf["_id"].to_numpy()
        ii, jj = np.nonzero(np.triu(sims >= threshold, 1))
        if len(ii) == 0:
            return empty
        va, vb = ids[ii], ids[jj]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(va, vb),
                "vec_b": np.maximum(va, vb),
                "cos_sim": np.round(sims[ii, jj], 4),
                "cell": np.full(len(ii), pdf["cell"].iloc[0], dtype=np.int32),
            }
        )

    return celled.groupBy("cell").applyInPandas(
        pairs, "vec_a bigint, vec_b bigint, cos_sim double, cell int"
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    threshold: float = 0.4,
    n_iters: int = 5,
    seed: int = 42,
    fit: str = "corpus",
) -> DataFrame:
    """Full SemDeDup decision: (vec_id, keeper) for every vector that
    belongs to a semantic dup-group, keeper = min id of its connected
    group (keep row iff vec_id == keeper). Group closure uses the
    O(log n)-round pointer-jumping connected components from dedup."""
    from real_time_data_anomaly_detection_spark.operators.dedup import (
        connected_components,
    )

    edges = semantic_dup_pairs(
        df, vec_col, id_col, k=k, threshold=threshold, n_iters=n_iters, seed=seed, fit=fit
    )
    comp = connected_components(edges, "vec_a", "vec_b")
    return comp.select(F.col("node").alias(id_col), F.col("comp").alias("keeper"))


def pca_fit(
    df: DataFrame, vec_col: str = "embedding", r: int | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One-pass distributed PCA fit: returns (mean d, components r×d,
    explained_variance r). The scan emits per-partition partial sums
    (n, Σx, ΣxᵀX — d + d² doubles per task, CONSTANT in corpus size);
    the driver assembles the covariance and eigendecomposes d×d. At
    100 TB this is exactly one pruned column scan with a
    kilobyte-sized reduce — the classic out-of-core covariance PCA.

    Determinism: eigenvector SIGN is fixed by forcing each
    component's largest-|coordinate| entry positive, so fits are
    reproducible across runs and partitionings (up to fp addition
    order in the partial sums)."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        s = None
        ss = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n += len(X)
            s = X.sum(axis=0) if s is None else s + X.sum(axis=0)
            g = X.T @ X
            ss = g if ss is None else ss + g
        if n == 0:
            return
        d = len(s)
        yield pd.DataFrame(
            {
                "n": [n],
                "s": [s.tolist()],
                "ss": [ss.ravel().tolist()],
                "d": [d],
            }
        )

    rows = (
        df.select(F.col(vec_col).cast("array<double>").alias(vec_col))
        .mapInPandas(partials, "n long, s array<double>, ss array<double>, d int")
        .collect()
    )
    if not rows:
        raise ValueError("empty input")
    d = rows[0]["d"]
    n = sum(row["n"] for row in rows)
    s = np.sum([np.asarray(row["s"]) for row in rows], axis=0)
    ss = np.sum([np.asarray(row["ss"]).reshape(d, d) for row in rows], axis=0)
    mu = s / n
    cov = ss / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    r = r or d
    comp = evecs[:, order[:r]].T  # r×d
    # canonical sign: largest-|coordinate| entry positive
    for i in range(len(comp)):
        j = np.argmax(np.abs(comp[i]))
        if comp[i, j] < 0:
            comp[i] = -comp[i]
    return mu, comp, np.maximum(evals[order[:r]], 0.0)


def pca_project(
    df: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pca",
    whiten: bool = False,
    explained_variance: np.ndarray | None = None,
    eps: float = 1e-9,
) -> DataFrame:
    """Project each row onto the fitted components: one Arrow pass,
    the (r×d) matrix shipped as a closure constant. With
    ``whiten=True`` each output coordinate is scaled to unit variance
    (requires ``explained_variance``)."""
    mu = np.asarray(mean, dtype=np.float64)
    W = np.asarray(components, dtype=np.float64)
    if whiten:
        if explained_variance is None:
            raise ValueError("whiten=True requires explained_variance")
        W = W / np.sqrt(np.asarray(explained_variance)[:, None] + eps)
    cols = df.columns
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            P = (X - mu) @ W.T
            out = pdf[cols].copy()
            out[out_col] = list(P)
            yield out

    return df.mapInPandas(project, f"{fields}, {out_col} array<double>")


@query("q_pca_project")  # eigendecomposition → rows-only (parity tests)
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA of the embeddings corpus to r=8 components: per-vector
    projection norms (vec_id, r, norm2). Fit is one partial-sum scan +
    a d×d driver eigh; reconstruction-error and whitening properties
    are pinned in tests/test_clustering.py."""
    e = load_table(spark, sf_dir, "embeddings")
    mu, comp, ev = pca_fit(e, r=8)
    proj = pca_project(e.select("vec_id", "embedding"), mu, comp)
    out = proj.select(
        "vec_id",
        F.lit(8).alias("r"),
        F.round(
            F.aggregate(
                "pca", F.lit(0.0), lambda acc, x: acc + x * x
            ),
            4,
        ).alias("norm2"),
    )
    # the sort's sampling job must not re-run the Arrow projection pass
    return sort_past_boundary(out, "vec_id")


@query("q_kmeans")  # iterative + float-boundary sensitive → rows-only
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means over the embeddings corpus: cluster sizes +
    within-cluster mean distance to centroid (k rows). Lloyd's/SemDeDup
    convergence and numpy-parity are pinned in tests/test_clustering.py."""
    e = load_table(spark, sf_dir, "embeddings")
    centroids, _ = kmeans_fit(e, k=8, n_iters=5)
    celled = kmeans_assign(
        e.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
        centroids,
    )
    return (
        celled.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("cell")
    )


@query("q_semantic_dedup")  # k-means driven → rows-only
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings corpus: dup-group membership
    (vec_id, keeper) at cos >= 0.4 within k=8 k-means cells, declared
    in the scale mode (sample-trained centroids + one assignment
    pass — fit="sample"; pair-set equality with the full-corpus fit
    on separated data is pinned in tests). The within-cell recall
    floor vs the exact O(n²) baseline is pinned on a blob fixture in
    tests/test_clustering.py."""
    e = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(e, k=8, threshold=0.4, n_iters=5, fit="sample")
