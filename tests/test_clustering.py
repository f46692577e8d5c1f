"""Distributed k-means + SemDeDup semantic dedup: convergence,
numpy-Lloyd's parity, blob recovery, and within-cluster recall."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.operators.clustering import (
    _init_centroids,
    kmeans_assign,
    kmeans_fit,
    semantic_dedup,
    semantic_dup_pairs,
)


def _blobs(n_per=40, d=16, k=3, sep=10.0, noise=0.5, seed=0):
    """Well-separated gaussian blobs; returns (ids, X, labels)."""
    rng = np.random.RandomState(seed)
    centers = np.zeros((k, d))
    for i in range(k):
        centers[i, i] = sep  # orthogonal, distance sep*sqrt(2) apart
    X = np.concatenate(
        [centers[i] + noise * rng.randn(n_per, d) for i in range(k)]
    )
    labels = np.repeat(np.arange(k), n_per)
    ids = np.arange(len(X))
    return ids, X, labels


def _blob_df(spark, ids, X):
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, X)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeans_recovers_blobs_and_inertia_monotone(spark):
    ids, X, labels = _blobs()
    df = _blob_df(spark, ids, X)
    cent, hist = kmeans_fit(df, k=3, n_iters=6, seed=7)
    assert all(hist[i + 1] <= hist[i] + 1e-6 for i in range(len(hist) - 1)), hist
    out = kmeans_assign(df, cent).orderBy("vec_id").collect()
    cells = np.array([r.cell for r in out])
    # same-blob rows must share a cell, different blobs must differ
    for b in range(3):
        assert len(set(cells[labels == b])) == 1, f"blob {b} split"
    assert len(set(cells[::40])) == 3, "blobs merged"


def test_kmeans_matches_numpy_lloyds(spark):
    """The distributed iteration IS Lloyd's: starting from the same
    init, a pure-numpy reference lands on the same centroids (up to
    partial-sum float noise) and identical assignments."""
    ids, X, _ = _blobs(n_per=30, d=8, k=3, sep=6.0, noise=0.8, seed=3)
    df = _blob_df(spark, ids, X)
    n_iters = 5
    C = _init_centroids(df, "embedding", "vec_id", 3, 42)
    for _ in range(n_iters):  # reference Lloyd's with keep-old empty cells
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        C = np.stack(
            [X[a == j].mean(axis=0) if (a == j).any() else C[j] for j in range(3)]
        )
    cent, _ = kmeans_fit(df, k=3, n_iters=n_iters, seed=42)
    assert np.allclose(cent, C, atol=1e-8), np.abs(cent - C).max()
    ref_assign = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    got = np.array(
        [r.cell for r in kmeans_assign(df, cent).orderBy("vec_id").collect()]
    )
    assert (got == ref_assign).all()


def test_kmeans_fit_sample_recovers_blobs(spark):
    """The scale-mode sample fit must recover the same well-separated
    structure as the full-corpus fit (cells = blobs, bijectively)."""
    from real_time_data_anomaly_detection_spark.operators.clustering import (
        kmeans_fit_sample,
    )

    ids, X, labels = _blobs()
    df = _blob_df(spark, ids, X)
    cent = kmeans_fit_sample(df, k=3, n_iters=6, seed=7)
    cells = np.array(
        [r.cell for r in kmeans_assign(df, cent).orderBy("vec_id").collect()]
    )
    for b in range(3):
        assert len(set(cells[labels == b])) == 1, f"blob {b} split"
    assert len(set(cells[::40])) == 3, "blobs merged"
    # and the semantic-dedup pair stage finds the same pairs either way
    a = {(r.vec_a, r.vec_b) for r in semantic_dup_pairs(df, k=3, threshold=0.99, fit="corpus").collect()}
    b = {(r.vec_a, r.vec_b) for r in semantic_dup_pairs(df, k=3, threshold=0.99, fit="sample").collect()}
    assert a == b


def test_kmeans_assign_preserves_columns(spark):
    ids, X, _ = _blobs(n_per=10, d=4, k=2, seed=1)
    df = _blob_df(spark, ids, X).withColumn("tag", F.lit("x"))
    out = kmeans_assign(df, np.zeros((2, 4)) + [[0] * 4, [1] * 4])
    assert set(out.columns) == {"vec_id", "embedding", "tag", "cell"}
    assert out.count() == 20


def test_kmeans_k_exceeds_corpus_raises(spark):
    df = _blob_df(spark, *(_blobs(n_per=1, k=2, d=4)[:2]))
    with pytest.raises(ValueError, match="k=99"):
        kmeans_fit(df, k=99, n_iters=1)


def test_semantic_dedup_recall_and_survivors(spark):
    """Planted near-dups (cos >= ~0.999) inside separated blobs: the
    within-cluster search must find 100% of them (dup pairs can't
    straddle a cell boundary when the dup is a tiny perturbation),
    and the dedup decision keeps exactly the min id per group."""
    ids, X, labels = _blobs(n_per=30, d=16, k=3, sep=12.0, noise=0.4, seed=5)
    rng = np.random.RandomState(9)
    # duplicate rows 0, 35, 70 twice each with tiny noise → two planted
    # dup partners per original, forming 3 groups of 3
    dups, dup_ids = [], []
    next_id = len(X)
    planted = []
    for orig in (0, 35, 70):
        for _ in range(2):
            dups.append(X[orig] + 1e-3 * rng.randn(16))
            dup_ids.append(next_id)
            planted.append((orig, next_id))
            next_id += 1
    X2 = np.concatenate([X, np.stack(dups)])
    ids2 = np.arange(len(X2))
    df = _blob_df(spark, ids2, X2)

    pairs = semantic_dup_pairs(df, k=3, threshold=0.99, n_iters=6, seed=11)
    got = {(r.vec_a, r.vec_b) for r in pairs.collect()}
    for a, b in planted:
        assert (min(a, b), max(a, b)) in got, f"missed planted dup {(a, b)}"

    decision = semantic_dedup(df, k=3, threshold=0.99, n_iters=6, seed=11)
    keep = {r.vec_id: r.keeper for r in decision.collect()}
    # every planted dup shares its original's component (natural
    # near-dups may enlarge the group — tight blobs have cos>0.99
    # neighbours — so pin co-membership + min-id keeper, not exact ids)
    for orig, dup in planted:
        assert keep[dup] == keep[orig], (orig, dup, keep[dup], keep[orig])
    from collections import defaultdict

    groups = defaultdict(set)
    for vid, kp in keep.items():
        groups[kp].add(vid)
    for kp, members in groups.items():
        assert kp == min(members), f"keeper {kp} != min of {sorted(members)[:5]}"


def test_semantic_dup_pairs_stop_cluster_valve(spark):
    """max_cluster_size drops degenerate cells from pair search: with
    the cap below a blob's size no pairs emerge from that blob, and
    the uncapped run still finds them (valve semantics, not a bug)."""
    ids, X, _ = _blobs(n_per=30, d=8, k=2, sep=10.0, noise=0.3, seed=8)
    df = _blob_df(spark, ids, X)
    uncapped = semantic_dup_pairs(df, k=2, threshold=0.9, n_iters=4, seed=2)
    assert uncapped.count() > 0
    capped = semantic_dup_pairs(
        df, k=2, threshold=0.9, n_iters=4, seed=2, max_cluster_size=10
    )
    assert capped.count() == 0


def test_pca_fit_matches_numpy_and_is_partition_invariant(spark):
    """Distributed partial-sum covariance == numpy covariance: same
    eigenvalues and (sign-canonical) components, under 1 or 13
    partitions."""
    from real_time_data_anomaly_detection_spark.operators.clustering import (
        pca_fit,
    )

    rng = np.random.RandomState(11)
    # anisotropic cloud: variance concentrated in 3 directions
    A = rng.randn(16, 16)
    X = rng.randn(400, 16) @ (A * np.array([5, 3, 2] + [0.3] * 13)[None, :])
    ids = np.arange(400)

    ref_cov = np.cov(X.T, bias=True)
    ref_evals = np.sort(np.linalg.eigvalsh(ref_cov))[::-1]

    got = {}
    for parts in (1, 13):
        df = _blob_df(spark, ids, X).repartition(parts)
        mu, comp, ev = pca_fit(df, r=5)
        assert np.allclose(mu, X.mean(axis=0), atol=1e-8)
        assert np.allclose(ev, ref_evals[:5], rtol=1e-8)
        got[parts] = comp
    assert np.allclose(got[1], got[13], atol=1e-8)


def test_pca_project_reconstruction_and_whitening(spark):
    """Full-rank projection preserves total variance; top-r captures
    the dominant share on anisotropic data; whitened coordinates have
    ~unit variance."""
    from real_time_data_anomaly_detection_spark.operators.clustering import (
        pca_fit,
        pca_project,
    )

    rng = np.random.RandomState(12)
    X = rng.randn(300, 8) * np.array([10, 5, 1, 0.5, 0.2, 0.1, 0.1, 0.1])
    ids = np.arange(300)
    df = _blob_df(spark, ids, X)

    mu, comp, ev = pca_fit(df)
    assert ev[0] > ev[1] > ev[2] > 0
    # total variance preserved at full rank
    assert np.isclose(ev.sum(), np.var(X, axis=0, ddof=0).sum(), rtol=1e-8)
    # top-2 dominates this spectrum
    assert ev[:2].sum() / ev.sum() > 0.9

    proj = pca_project(df, mu, comp[:2], whiten=True, explained_variance=ev[:2])
    P = np.stack([r.pca for r in proj.orderBy("vec_id").collect()])
    assert P.shape == (300, 2)
    assert np.allclose(P.var(axis=0, ddof=0), 1.0, atol=1e-3)
    # unwhitened projection reproduces the eigenvalue variances
    raw = pca_project(df, mu, comp[:2])
    R = np.stack([r.pca for r in raw.orderBy("vec_id").collect()])
    assert np.allclose(R.var(axis=0, ddof=0), ev[:2], rtol=1e-6)
