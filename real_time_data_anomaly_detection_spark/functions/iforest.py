"""Pure-numpy Isolation Forest (Liu, Ting, Zhou, ICDM 2008).

The reference scores anomalies with sklearn's IsolationForest
(contamination=0.05, random_state=42; reference app/app3_ML.py:165-166).
scikit-learn is not available in this environment, so this is a
from-scratch implementation of the published algorithm with the same
interface semantics:

- ``fit_predict(X)`` returns labels in {-1, 1}, where -1 marks the
  top-``contamination`` fraction by anomaly score — sklearn's
  contamination-threshold behavior.
- Deterministic under a fixed ``random_state`` (seeded numpy
  Generator). Scores are not bit-identical to sklearn's (different RNG
  stream), but the algorithm, subsampling (ψ=256), tree count (100),
  depth limit ceil(log2 ψ), and the c(n) path-length normalization are
  per the paper.

Trees are flat arrays, one row per tree: ``feature`` (-1 at a leaf),
``threshold``, ``left`` (the right child is ``left + 1``) and ``size``
(points that reached the node), at most 2ψ nodes each. ``fit`` builds
each tree with an explicit pre-order stack, left before right, drawing
from the Generator in that order; ``score_samples`` moves every point
through every tree one level at a time (at most ceil(log2 ψ) vectorised
steps) and adds c(size) at the leaf from a lookup table.

Designed to run inside ``applyInPandas`` on executors: stateless,
numpy-only. On a 500×4 window (100 trees, ψ = 256) fit takes about
200 ms and score about 10 ms (perfbench ``iforest`` probe, 4-core x86
host). The fit stays sequential Python per node, because each split's
draws depend on the points its parent's split sent down.
"""

from __future__ import annotations

import math

import numpy as np

_EULER_GAMMA = 0.5772156649015329


def _c(n: float) -> float:
    """Average unsuccessful-BST search path length for n points."""
    if n <= 1.0:
        return 0.0
    if n == 2.0:
        return 1.0
    return 2.0 * (math.log(n - 1.0) + _EULER_GAMMA) - 2.0 * (n - 1.0) / n


def _build_tree(X: np.ndarray, max_depth: int, rng: np.random.Generator, width: int):
    """Grow one tree on the subsample ``X``; returns its ``feature``,
    ``threshold``, ``left`` and ``size`` rows as lists of ``width``.

    Pre-order, left before right: each split draws its feature and then
    its threshold, so the Generator is consumed in the order a recursive
    build consumes it. ``candidates[rng.integers(0, k)]`` is what
    ``rng.choice(candidates)`` draws, and ``lo + (hi - lo) * rng.random()``
    is what ``rng.uniform(lo, hi)`` draws. Nodes hold a few points, so
    their column ranges are taken on Python floats; a column with a NaN
    among the node's points is not a split candidate, as under numpy's
    NaN-propagating min/max, and an infinite range raises as
    ``rng.uniform`` does."""
    cols = X.T.tolist()
    nan_cols = set(np.flatnonzero(np.isnan(X).any(axis=0)).tolist())
    feature = [-1] * width
    threshold = [0.0] * width
    left = [0] * width
    size = [0] * width
    stack = [(0, list(range(X.shape[0])), 0)]
    free = 1
    while stack:
        node, idx, depth = stack.pop()
        size[node] = len(idx)
        if depth >= max_depth or len(idx) <= 1:
            continue
        candidates = []
        for j, col in enumerate(cols):
            vals = [col[i] for i in idx]
            lo = min(vals)
            hi = max(vals)
            if hi > lo and not (j in nan_cols and any(v != v for v in vals)):
                candidates.append((j, lo, hi))
        if not candidates:
            continue
        f, lo, hi = candidates[rng.integers(0, len(candidates))]
        if hi - lo == math.inf:
            raise OverflowError("high - low range exceeds valid bounds")
        t = lo + (hi - lo) * rng.random()
        col = cols[f]
        feature[node] = f
        threshold[node] = t
        left[node] = free
        stack.append((free + 1, [i for i in idx if not col[i] < t], depth + 1))
        stack.append((free, [i for i in idx if col[i] < t], depth + 1))
        free += 2
    return feature, threshold, left, size


class IsolationForest:
    """Drop-in (numpy-only) analog of sklearn.ensemble.IsolationForest."""

    def __init__(
        self,
        n_estimators: int = 100,
        max_samples: int = 256,
        contamination: float = 0.05,
        random_state: int | None = 42,
    ):
        self.n_estimators = n_estimators
        self.max_samples = max_samples
        self.contamination = contamination
        self.random_state = random_state
        self._psi: int = 0

    def fit(self, X) -> "IsolationForest":
        X = np.asarray(X, dtype=np.float64)
        if X.ndim != 2 or X.shape[0] == 0:
            raise ValueError("X must be a non-empty 2D array")
        rng = np.random.default_rng(self.random_state)
        n = X.shape[0]
        psi = min(self.max_samples, n)
        max_depth = math.ceil(math.log2(max(psi, 2)))
        shape = (self.n_estimators, 2 * psi)
        self._feature = np.full(shape, -1, dtype=np.int64)
        self._threshold = np.zeros(shape, dtype=np.float64)
        self._left = np.zeros(shape, dtype=np.int64)
        self._size = np.zeros(shape, dtype=np.int64)
        for i in range(self.n_estimators):
            sample_idx = rng.choice(n, size=psi, replace=False)
            (
                self._feature[i],
                self._threshold[i],
                self._left[i],
                self._size[i],
            ) = _build_tree(X[sample_idx], max_depth, rng, 2 * psi)
        self._psi = psi
        return self

    def score_samples(self, X) -> np.ndarray:
        """Anomaly score in (0, 1]; higher = more anomalous (paper's s)."""
        X = np.asarray(X, dtype=np.float64)
        n_trees, width = self._feature.shape
        n = X.shape[0]
        feature = self._feature.ravel()
        threshold = self._threshold.ravel()
        child = (self._left + np.arange(n_trees)[:, None] * width).ravel()
        # node[i, j]: flat index of the node point j has reached in tree i.
        node = np.repeat(np.arange(n_trees) * width, n).reshape(n_trees, n)
        depth = np.zeros((n_trees, n), dtype=np.float64)
        rows = np.arange(n)
        while True:
            f = feature[node]
            inner = f >= 0
            if not inner.any():
                break
            right = ~(X[rows, np.maximum(f, 0)] < threshold[node])
            node = np.where(inner, child[node] + right, node)
            depth += inner
        c_of_size = np.array([_c(float(s)) for s in range(self._psi + 1)])
        depths = depth + c_of_size[self._size.ravel()[node]]
        mean_depth = depths.mean(axis=0)
        return np.power(2.0, -mean_depth / _c(float(self._psi)))

    def fit_predict(self, X) -> np.ndarray:
        """Labels in {-1, 1}: -1 for the top-contamination fraction."""
        self.fit(X)
        scores = self.score_samples(X)
        threshold = np.quantile(scores, 1.0 - self.contamination)
        labels = np.where(scores > threshold, -1, 1)
        # Quantile ties can under-flag; sklearn flags ~contamination·n.
        if (labels == -1).sum() == 0 and len(scores) > 1:
            labels[np.argmax(scores)] = -1
        return labels
