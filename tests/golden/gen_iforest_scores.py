"""Freeze IsolationForest scores on seeded inputs as a bit-exact golden.

    python tests/golden/gen_iforest_scores.py

writes ``iforest_scores.json`` next to itself. For every case in
:func:`cases` and every seed in ``SEEDS`` it stores the input digest,
``score_samples`` as the raw little-endian float64 bytes (base64) and
the row indices ``fit_predict`` labels -1.
``tests/test_iforest.py::test_scores_bit_identical_to_golden`` rebuilds
the inputs and compares bit for bit, so a rewrite of
``functions/iforest.py`` that moves any score by one ulp fails it. Do
not regenerate the file to make that test pass: the golden is only
meaningful while it comes from the implementation it was frozen from.

The inputs are built with numpy only (no Spark), from fixed seeds:

- ``fixture``: the sklearn-parity fixture of ``gen_iforest_golden.py``.
- ``energy_<plant>``: one 500-row window per plant type, shaped like
  ``streaming.generator.energy_batch`` rows (daily seasonality, demand
  drift, 10% injected anomalies, clamp at zero) over that plant's
  ``PLANT_FEATURES``.
- ``ties``: values rounded to whole numbers, so split thresholds fall
  between many equal values.
- ``constant``: every column constant; no tree can split.
- ``n1``, ``n2``, ``n60``: fewer rows than the subsample size ψ = 256.
- ``d1``: a single feature column.
"""

from __future__ import annotations

import base64
import hashlib
import json
import math
import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from gen_iforest_golden import fixture  # noqa: E402

from real_time_data_anomaly_detection_spark.functions.iforest import (  # noqa: E402
    IsolationForest,
)
from real_time_data_anomaly_detection_spark.schemas import PLANT_FEATURES  # noqa: E402

SEEDS = (42, 7)
CONTAMINATION = 0.05
GOLDEN = os.path.join(HERE, "iforest_scores.json")

# Normal value and anomaly multiplier range per feature
# (streaming/generator.py: with_energy_columns).
_PLANT_METRICS = {
    "fuel_consumption": ((290.0, 310.0), (1.5, 2.0)),
    "emissions": ((100.0, 300.0), (1.2, 1.5)),
    "wind_speed": ((3.0, 25.0), (0.5, 0.7)),
    "turbine_efficiency": ((80.0, 95.0), (0.5, 0.8)),
    "solar_radiation": ((200.0, 1000.0), (1.5, 2.0)),
    "panel_temperature": ((20.0, 80.0), (1.2, 1.5)),
    "water_flow_rate": ((50.0, 300.0), (1.5, 2.0)),
    "turbine_rotation_speed": ((100.0, 500.0), (0.5, 0.7)),
}


def energy_window(plant: str, seed: int, n: int = 500) -> np.ndarray:
    """n rows of one plant type's features, energy_batch-style."""
    rng = np.random.default_rng(seed)
    c = np.arange(n, dtype=np.float64) * len(PLANT_FEATURES)
    t = c / 100.0
    cols = {
        "power_output": 100.0 + 30.0 * np.sin(2 * math.pi * t / 24.0) + rng.uniform(-5, 5, n),
        "demand": 200.0
        + 50.0 * np.sin(2 * math.pi * t / 24.0 + math.pi / 4.0)
        + 0.05 * c
        + rng.uniform(-10, 10, n),
    }
    anomalous = rng.random(n) < 0.1
    for name, ((lo, hi), (alo, ahi)) in _PLANT_METRICS.items():
        if name in PLANT_FEATURES[plant]:
            factor = np.where(anomalous, rng.uniform(alo, ahi, n), 1.0)
            cols[name] = rng.uniform(lo, hi, n) * factor
    return np.column_stack([np.maximum(cols[f], 0.0) for f in PLANT_FEATURES[plant]])


def cases() -> dict[str, np.ndarray]:
    """Every golden input, by name (deterministic)."""
    rng = np.random.default_rng(20261017)
    out = {"fixture": fixture()}
    for i, plant in enumerate(PLANT_FEATURES):
        out["energy_" + plant.split()[0].lower()] = energy_window(plant, seed=100 + i)
    out["ties"] = np.round(rng.normal(0.0, 2.0, size=(300, 3)))
    out["constant"] = np.full((80, 3), 2.5)
    out["n1"] = rng.normal(size=(1, 3))
    out["n2"] = rng.normal(size=(2, 3))
    out["n60"] = rng.normal(size=(60, 3))
    out["d1"] = rng.normal(size=(200, 1))
    return out


def digest(X: np.ndarray) -> str:
    return hashlib.sha256(np.ascontiguousarray(X, dtype="<f8").tobytes()).hexdigest()


def compute(X: np.ndarray, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(score_samples, fit_predict) for one input and seed."""
    with np.errstate(invalid="ignore", divide="ignore"):
        scores = IsolationForest(contamination=CONTAMINATION, random_state=seed).fit(X).score_samples(X)
        labels = IsolationForest(contamination=CONTAMINATION, random_state=seed).fit_predict(X)
    return scores, labels


def encode_scores(scores: np.ndarray) -> str:
    return base64.b64encode(np.ascontiguousarray(scores, dtype="<f8").tobytes()).decode("ascii")


def decode_scores(text: str) -> np.ndarray:
    return np.frombuffer(base64.b64decode(text), dtype="<f8")


def main() -> None:
    entries = []
    for name, X in cases().items():
        for seed in SEEDS:
            scores, labels = compute(X, seed)
            entries.append(
                {
                    "case": name,
                    "seed": seed,
                    "shape": list(X.shape),
                    "input_sha256": digest(X),
                    "scores_f8": encode_scores(scores),
                    "outliers": np.flatnonzero(labels == -1).tolist(),
                }
            )
    with open(GOLDEN, "w") as f:
        json.dump({"contamination": CONTAMINATION, "entries": entries}, f, indent=1)
        f.write("\n")
    print(f"wrote {GOLDEN} ({len(entries)} entries)")


if __name__ == "__main__":
    main()
