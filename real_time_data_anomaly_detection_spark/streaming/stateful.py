"""Count-based last-N-per-group sliding window — the one reference
operator Spark has no built-in for (SURVEY.md §7 hard-part 1).

Reference semantics (app/app3_ML.py:39-45, 129-130): per plant type,
keep the newest 500 rows regardless of event time (a
``deque(maxlen=500)``), evicting oldest-first; detection runs over the
current window each cycle.

Implementation: ``applyInPandasWithState`` — per-group state in Spark's
state store (RocksDB/HDFS-backed on a real cluster; survives executor
loss via checkpointing, unlike the reference's process-local deque).
The window is serialized into the state as parquet-encoded bytes: a
stable, schema'd format with no pickle-version coupling.

Each trigger: append the new micro-batch rows (sorted by event time),
truncate to the newest N, optionally score the window with the
IsolationForest operator, and emit this trigger's outliers.
"""

from __future__ import annotations

import io as _io
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from real_time_data_anomaly_detection_spark.schemas import PLANT_FEATURES
from real_time_data_anomaly_detection_spark.streaming.anomaly import score_window

#: State = one binary cell holding the current window as parquet bytes.
STATE_SCHEMA = T.StructType([T.StructField("window_parquet", T.BinaryType(), True)])


def _encode(pdf: pd.DataFrame) -> bytes:
    buf = _io.BytesIO()
    pdf.to_parquet(buf, index=False)
    return buf.getvalue()


def _decode(blob: bytes) -> pd.DataFrame:
    return pd.read_parquet(_io.BytesIO(blob))


def last_n_window(
    df: DataFrame,
    n: int = 500,
    group_col: str = "plant_type",
    ts_col: str = "timestamp",
    emit: str = "window",
    contamination: float = 0.05,
    random_state: int = 42,
    min_rows: int = 50,
    features_map: dict[str, list[str]] | None = None,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Stateful last-``n`` rows per group over a streaming DataFrame.

    emit="window": each trigger emits the group's full current window
    (the queryable surface the reference's Dash UI polled, §3.3).
    emit="outliers": each trigger scores the window with
    anomaly.score_window — the kernel anomaly.score_anomalies runs on a
    batch — and emits only rows of the CURRENT batch labeled -1.

    ``state_ttl_ms``: evict a group's window after that long with no new
    data (processing-time timeout). Essential when the group key is
    high-cardinality (device ids rather than 4 plant types) — without a
    TTL, state grows with every key ever seen.

    TTL × trigger interaction: with a processing-time
    timeout registered, ``trigger(availableNow=True)`` CANNOT
    self-terminate — timers only fire inside micro-batches, so Spark
    keeps scheduling empty ~1/s batches until every group's TTL
    horizon passes (an hour-scale TTL means an hour-scale spin). The
    TTL mode is built for CONTINUOUS triggers, where the extra empty
    batches are the normal heartbeat; an availableNow backfill over
    the TTL'd operator must be driven to completion and then
    ``stop()``-ed explicitly (poll the sink for the expected row
    count — tests/test_streaming.py::test_last_n_window_with_ttl_runs
    shows the shape). Backfills that don't need mid-run eviction
    should simply omit ``state_ttl_ms``.
    """
    fmap = features_map or PLANT_FEATURES
    in_fields = list(df.schema.fields)
    if emit == "outliers":
        out_schema = T.StructType(
            in_fields + [T.StructField("score", T.DoubleType(), True)]
        )
    else:
        out_schema = T.StructType(in_fields)
    out_cols = [f.name for f in out_schema.fields]
    in_cols = [f.name for f in in_fields]

    def _update(key, pdf_iter: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        plant = key[0]
        if state.hasTimedOut:
            state.remove()  # TTL expiry: drop the idle group's window
            return
        new = pd.concat(list(pdf_iter), ignore_index=True)
        # Positive this-trigger membership marker: timestamp-set
        # membership would re-emit older window rows that merely share
        # a timestamp with a new row (common at high rates where many
        # rows carry equal timestamps). State rows are marked False on
        # decode; the marker never enters the stored state (in_cols).
        new["_is_new"] = True
        if state.exists:
            (blob,) = state.get
            old = _decode(blob)
            old["_is_new"] = False
            window = pd.concat([old, new], ignore_index=True)
        else:
            window = new
        # Deque semantics: order by event time (stable), keep newest n.
        window = window.sort_values(ts_col, kind="mergesort").tail(n).reset_index(drop=True)
        state.update((_encode(window[in_cols]),))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)

        if emit == "window":
            yield window[out_cols]
            return

        features = fmap.get(plant)
        if features is None:
            return
        scored = score_window(
            window, features, ts_col, contamination, random_state, min_rows
        )
        if scored is None:
            return
        complete, scores, is_outlier = scored
        out = complete.loc[is_outlier].copy()
        out["score"] = scores[is_outlier]
        # Only surface outliers from rows that arrived this trigger:
        # windowed rescoring would otherwise re-emit old rows each batch.
        out = out[out["_is_new"]]
        if len(out):
            yield out[out_cols]

    return df.groupBy(group_col).applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            "ProcessingTimeTimeout" if state_ttl_ms is not None else "NoTimeout"
        ),
    )
