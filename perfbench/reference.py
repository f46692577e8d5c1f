"""Driver-side pandas replay of the detector's semantics.

Rebuilds, file by file, what ``last_n_window(emit="outliers")`` emits
when each replay file is one trigger: per plant type, append the file's
rows, keep the newest 500 by event time, and once at least 50 complete
rows exist, score the window with the engine's ``IsolationForest``
(contamination 0.05, seed 42) and emit the new rows above the 0.95
score quantile. The outputs are compared with the stream's as
``(plant_type, timestamp_us, round(score, 9))`` sets.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
from pyarrow import json as pa_json

from real_time_data_anomaly_detection_spark.functions.iforest import IsolationForest
from real_time_data_anomaly_detection_spark.schemas import PLANT_FEATURES

WINDOW = 500
MIN_ROWS = 50
CONTAMINATION = 0.05
RANDOM_STATE = 42


def read_wire_file(path: str) -> pd.DataFrame:
    """One JSON-lines replay file → frame with the timestamp as epoch micros.

    Arrow's JSON reader parses doubles exactly, as Spark's from_json does."""
    schema = pa.schema([("timestamp", pa.timestamp("us", tz="UTC"))])
    table = pa_json.read_json(path, parse_options=pa_json.ParseOptions(explicit_schema=schema))
    pdf = table.drop_columns(["timestamp"]).to_pandas()
    pdf["timestamp"] = table.column("timestamp").cast(pa.int64()).to_numpy()
    return pdf


def _replay_group(plant: str, batches: list[pd.DataFrame]) -> list[list[tuple]]:
    features = PLANT_FEATURES[plant]
    out, state = [], None
    for new in batches:
        new = new.copy()
        new["_is_new"] = True
        if state is not None:
            old = state.copy()
            old["_is_new"] = False
            window = pd.concat([old, new], ignore_index=True)
        else:
            window = new.reset_index(drop=True)
        window = window.sort_values("timestamp", kind="mergesort").tail(WINDOW).reset_index(drop=True)
        state = window.drop(columns="_is_new")
        emitted: list[tuple] = []
        complete = window.dropna(subset=features)
        if len(complete) >= MIN_ROWS:
            complete = complete.sort_values(["timestamp"] + features, kind="mergesort")
            X = complete[features].astype(float).to_numpy()
            model = IsolationForest(contamination=CONTAMINATION, random_state=RANDOM_STATE).fit(X)
            scores = model.score_samples(X)
            keep = (scores > np.quantile(scores, 1.0 - CONTAMINATION)) & complete["_is_new"].to_numpy()
            emitted = [
                (plant, int(ts), round(float(s), 9))
                for ts, s in zip(complete["timestamp"].to_numpy()[keep], scores[keep])
            ]
        out.append(emitted)
    return out


def replay_outliers(paths: list[str]) -> list[list[tuple]]:
    """Expected outliers per replay file, in file order."""
    frames = [read_wire_file(p) for p in paths]
    plants = sorted({p for f in frames for p in f["plant_type"].unique()})
    results = {
        plant: _replay_group(plant, [f[f["plant_type"] == plant] for f in frames]) for plant in plants
    }
    return [
        sorted(row for plant in plants for row in results[plant][i]) for i in range(len(paths))
    ]


def digest(rows) -> str:
    """Order-insensitive sha256 of ``(plant_type, ts_us, score)`` rows."""
    h = hashlib.sha256()
    for plant, ts, score in sorted(rows):
        h.update(f"{plant}|{ts}|{score!r}\n".encode())
    return h.hexdigest()
