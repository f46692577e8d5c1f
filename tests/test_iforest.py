"""Unit tests for the pure-numpy IsolationForest."""

from __future__ import annotations

import numpy as np
import pytest

from real_time_data_anomaly_detection_spark.functions.iforest import IsolationForest


def _blob_with_outliers(n=500, n_out=25, seed=7):
    rng = np.random.default_rng(seed)
    inliers = rng.normal(0, 1, size=(n - n_out, 4))
    outliers = rng.uniform(8, 12, size=(n_out, 4)) * rng.choice([-1, 1], size=(n_out, 1))
    X = np.vstack([inliers, outliers])
    labels = np.r_[np.ones(n - n_out), -np.ones(n_out)]
    return X, labels


def test_detects_planted_outliers():
    X, truth = _blob_with_outliers()
    pred = IsolationForest(contamination=0.05, random_state=42).fit_predict(X)
    flagged = np.flatnonzero(pred == -1)
    # Every flagged point should be a planted outlier (precision 1.0 on
    # this easy geometry), and we flag ~5% of 500 = ~25 points.
    assert len(flagged) >= 20
    assert all(truth[i] == -1 for i in flagged)


def test_deterministic_under_seed():
    X, _ = _blob_with_outliers(seed=11)
    a = IsolationForest(random_state=42).fit(X).score_samples(X)
    b = IsolationForest(random_state=42).fit(X).score_samples(X)
    assert np.array_equal(a, b)
    c = IsolationForest(random_state=7).fit(X).score_samples(X)
    assert not np.array_equal(a, c)


def test_scores_in_unit_interval():
    X, _ = _blob_with_outliers()
    s = IsolationForest(random_state=42).fit(X).score_samples(X)
    assert (s > 0).all() and (s <= 1).all()
    # Outliers (last 25 rows) must score strictly higher on average.
    assert s[-25:].mean() > s[:-25].mean() + 0.1


def test_constant_data_no_crash():
    X = np.ones((100, 3))
    pred = IsolationForest(random_state=42).fit_predict(X)
    assert set(pred) <= {-1, 1}


def test_empty_raises():
    with pytest.raises(ValueError):
        IsolationForest().fit(np.empty((0, 4)))


def test_nan_column_is_not_split_and_infinite_range_raises():
    """A column with a NaN among a node's points is never that node's
    split (numpy's min/max propagate the NaN); a split over an infinite
    range raises OverflowError, as numpy's Generator.uniform does."""
    X = np.random.default_rng(3).normal(size=(200, 3))
    X[5, 1] = np.nan
    model = IsolationForest(random_state=42).fit(X)
    # n < ψ: every tree's root holds all rows, the NaN row included.
    assert (model._feature[:, 0] != 1).all()
    assert np.isfinite(model.score_samples(X)).all()
    X[5, 1] = 0.0
    X[7, 0] = np.inf
    with pytest.raises(OverflowError):
        IsolationForest(random_state=42).fit(X)


def test_scores_match_brute_force_path_length_oracle():
    """Every score from the vectorized scorer must equal the paper's
    formula s(x) = 2^(-E[h(x)]/c(ψ)) computed by an INDEPENDENT
    scalar walk of each fitted tree's flat arrays (one sample at a
    time, no shared code with the level-at-a-time scorer). This is
    the env-achievable parity gate: it proves the implementation
    computes exactly the published quantity on the same fixture the
    sklearn golden would cover — the remaining sklearn delta is RNG
    stream only."""
    import math
    import os
    import sys

    from real_time_data_anomaly_detection_spark.functions.iforest import (
        _EULER_GAMMA,
    )

    golden_dir = os.path.join(os.path.dirname(__file__), "golden")
    sys.path.insert(0, golden_dir)
    try:
        from gen_iforest_golden import fixture
    finally:
        sys.path.pop(0)

    def c(n):
        if n <= 1.0:
            return 0.0
        if n == 2.0:
            return 1.0
        return 2.0 * (math.log(n - 1.0) + _EULER_GAMMA) - 2.0 * (n - 1.0) / n

    def walk(model, t, x):
        node, depth = 0, 0.0
        while model._feature[t, node] >= 0:
            go_left = x[model._feature[t, node]] < model._threshold[t, node]
            node = model._left[t, node] + (0 if go_left else 1)
            depth += 1.0
        return depth + c(float(model._size[t, node]))

    X = fixture()
    model = IsolationForest(contamination=0.05, random_state=42).fit(X)
    scores = model.score_samples(X)
    oracle = np.array(
        [
            2.0
            ** (
                -np.mean([walk(model, t, x) for t in range(model.n_estimators)])
                / c(float(model._psi))
            )
            for x in X
        ]
    )
    assert np.allclose(scores, oracle, rtol=0, atol=1e-12)
    # and the contamination threshold flags exactly the top scorers
    labels = IsolationForest(contamination=0.05, random_state=42).fit_predict(X)
    assert set(np.flatnonzero(labels == -1)) == set(
        np.flatnonzero(oracle > np.quantile(oracle, 0.95))
    )


def test_scores_bit_identical_to_golden():
    """score_samples and fit_predict reproduce the frozen golden bit for
    bit on every case and seed of tests/golden/gen_iforest_scores.py
    (energy windows per plant type, ties, constant columns, n < ψ, d = 1).
    NaN scores (n = 1, where c(ψ) = 0) must stay NaN at the same rows."""
    import json
    import os
    import sys

    golden_dir = os.path.join(os.path.dirname(__file__), "golden")
    sys.path.insert(0, golden_dir)
    try:
        import gen_iforest_scores as gen
    finally:
        sys.path.pop(0)

    with open(gen.GOLDEN) as f:
        golden = json.load(f)
    inputs = gen.cases()
    assert len(golden["entries"]) == len(inputs) * len(gen.SEEDS)
    for entry in golden["entries"]:
        where = f"{entry['case']} seed={entry['seed']}"
        X = inputs[entry["case"]]
        assert gen.digest(X) == entry["input_sha256"], f"{where}: input drifted"
        want = gen.decode_scores(entry["scores_f8"])
        scores, labels = gen.compute(X, entry["seed"])
        nan = np.isnan(want)
        assert np.array_equal(np.isnan(scores), nan), where
        assert np.array_equal(scores[~nan].view("<u8"), want[~nan].view("<u8")), where
        assert np.flatnonzero(labels == -1).tolist() == entry["outliers"], where


def test_sklearn_label_agreement():
    """Label-for-label parity with sklearn's IsolationForest
    (contamination=0.05, random_state=42 — reference app3_ML.py:165).

    Three modes: live comparison where sklearn is importable; golden-
    file comparison where tests/golden/iforest_golden.json was
    generated by gen_iforest_golden.py on a machine WITH sklearn;
    otherwise an explicit xfail — the golden file is deliberately NOT
    fabricated in an environment that cannot run sklearn to produce
    it, and the suite must not advertise a check that never runs. The
    env-achievable parity gate that ALWAYS runs is
    test_scores_match_brute_force_path_length_oracle above. Run
    tests/golden/gen_iforest_golden.py wherever sklearn exists and
    commit the golden to turn this into a hard gate."""
    import importlib.util
    import json
    import os
    import sys

    golden_dir = os.path.join(os.path.dirname(__file__), "golden")
    sys.path.insert(0, golden_dir)
    try:
        from gen_iforest_golden import fixture
    finally:
        sys.path.pop(0)

    X = fixture()
    if importlib.util.find_spec("sklearn") is not None:
        from sklearn.ensemble import IsolationForest as SkIF

        sk_labels = SkIF(contamination=0.05, random_state=42).fit_predict(X)
    else:
        golden = os.path.join(golden_dir, "iforest_golden.json")
        if not os.path.exists(golden):
            pytest.xfail(
                "sklearn-exact label agreement UNPROVEN here: sklearn is "
                "not installed and no golden file is committed (generate "
                "one with tests/golden/gen_iforest_golden.py where sklearn "
                "exists). The paper-formula parity gate that does run is "
                "test_scores_match_brute_force_path_length_oracle."
            )
        with open(golden) as f:
            sk_labels = np.asarray(json.load(f)["labels"])

    ours = IsolationForest(contamination=0.05, random_state=42).fit_predict(X)
    agreement = float(np.mean(ours == sk_labels))
    assert agreement >= 0.95, f"label agreement {agreement:.3f} < 0.95"
