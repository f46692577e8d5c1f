"""Distributed anomaly detection — the reference's core capability,
done Spark-natively.

Reference behavior (app/app3_ML.py:143-182): a driver-side thread
refits sklearn IsolationForest(contamination=0.05, random_state=42)
every 5 s over a per-plant-type deque window, labels -1/1, and keeps
the newest 100 outliers. Single-node, lock-serialized.

Here the same semantics run ON EXECUTORS via grouped ``applyInPandas``:
one Arrow batch per plant type (4 groups — at real scale, group count =
parallelism; for high-cardinality keys this shards naturally). The
model is the pure-numpy IsolationForest in functions/iforest.py
(sklearn is unavailable; same published algorithm, same
contamination-threshold labeling).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from real_time_data_anomaly_detection_spark.functions.iforest import IsolationForest
from real_time_data_anomaly_detection_spark.schemas import PLANT_FEATURES


def score_window(
    pdf: pd.DataFrame,
    features: list[str],
    ts_col: str,
    contamination: float,
    random_state: int,
    min_rows: int,
) -> tuple[pd.DataFrame, np.ndarray, np.ndarray] | None:
    """The detector kernel: fit IsolationForest on one group's window
    and score that same window (reference app/app3_ML.py:165-169).

    Returns (complete, scores, is_outlier): ``complete`` is the rows
    with every feature present, sorted by (ts, features) — Spark
    shuffle order is nondeterministic, and identical window contents
    must yield identical models (SURVEY.md §7 hard-part 2) — and
    ``is_outlier`` marks scores above the (1 − contamination)
    quantile. None when fewer than ``min_rows`` rows are complete
    (the reference's warm-up guard, app/app3_ML.py:151-152)."""
    complete = pdf.dropna(subset=features)
    if len(complete) < min_rows:
        return None
    complete = complete.sort_values([ts_col] + features, kind="mergesort")
    X = complete[features].astype(float).to_numpy()
    model = IsolationForest(
        contamination=contamination, random_state=random_state
    ).fit(X)
    scores = model.score_samples(X)
    threshold = np.quantile(scores, 1.0 - contamination)
    return complete, scores, scores > threshold


def _scored_schema(df: DataFrame) -> T.StructType:
    return T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("anomaly", T.IntegerType(), True),
            T.StructField("score", T.DoubleType(), True),
        ]
    )


def score_anomalies(
    df: DataFrame,
    features_map: dict[str, list[str]] | None = None,
    contamination: float = 0.05,
    random_state: int = 42,
    min_rows: int = 50,
    group_col: str = "plant_type",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Per-group IsolationForest fit+score, distributed.

    Output = input columns + ``anomaly`` (-1 outlier / 1 normal / 0
    unscored: null-feature rows and warm-up groups under ``min_rows``,
    the reference's guard at app/app3_ML.py:151-152) + ``score``.
    Each group goes through :func:`score_window`.
    """
    fmap = features_map or PLANT_FEATURES
    schema = _scored_schema(df)
    out_cols = [f.name for f in schema.fields]

    # No annotations: `from __future__ import annotations` stringifies
    # them and applyInPandas' hint inspection warns; positional API is used.
    def _score(key, pdf):
        plant = key[0]
        features = fmap.get(plant)
        pdf = pdf.copy()
        pdf["anomaly"] = 0
        pdf["score"] = float("nan")
        if features is None:
            return pdf[out_cols]
        scored = score_window(
            pdf, features, ts_col, contamination, random_state, min_rows
        )
        if scored is None:
            return pdf[out_cols]
        complete, scores, is_outlier = scored
        pdf.loc[complete.index, "anomaly"] = np.where(is_outlier, -1, 1)
        pdf.loc[complete.index, "score"] = scores
        return pdf[out_cols]

    return df.groupBy(group_col).applyInPandas(_score, schema)


def outliers(scored: DataFrame) -> DataFrame:
    """Rows labeled anomalous (reference app/app3_ML.py:169-171)."""
    return scored.filter(F.col("anomaly") == -1)


def latest_outliers(
    scored: DataFrame,
    k: int = 100,
    group_col: str = "plant_type",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Newest k outliers per group — the reference's retention policy
    (app/app3_ML.py:177-180) as a rank window instead of a pandas tail."""
    from pyspark.sql import Window as W

    w = W.partitionBy(group_col).orderBy(F.desc(ts_col))
    return (
        outliers(scored)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def cusum_stream(
    df: DataFrame,
    baselines: dict[str, tuple[int, int, int]],
    key_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    micro_col: str = "xm",
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Streaming two-sided CUSUM: the online twin of
    operators/timeseries.cusum_scores, with O(1) state per key.

    The batch closed form S_t = P_t - min(0, min_{j<=t} P_j) folds
    across micro-batches with just FOUR BIGINTs of state per key —
    (P_up, min P_up, P_dn, min P_dn) — so unlike the last-N window
    (state = the window itself), state size is independent of both
    stream length and window choice: the detector the reference's
    deque loop (app/app3_ML.py:38-44) approximates, with none of its
    memory growth. Each trigger extends the cumulative sums with the
    batch's (ts, id)-ordered rows via vectorized int64
    cumsum/cummin, emits every row's (sup, sdn, up/dn alarm flags),
    and writes the four counters back.

    ``baselines`` maps key -> (mu, k, h) in integer micro-units —
    trained OFFLINE (operators/timeseries.cusum_baselines over the
    historical batch), the standard split for an online detector:
    thresholds must not drift with the stream being judged. Keys
    absent from ``baselines`` are dropped, deliberately: scoring
    against no baseline is undefined; route new keys to a retraining
    pipeline instead.

    ``micro_col`` must already be BIGINT micro-units (convert with
    operators/timeseries._micro_units BEFORE this call, JVM-side) so
    stream and batch share the identical per-row quantization — a
    numpy re-round here could disagree on half-boundary doubles.

    Exactness contract (pinned by tests/test_streaming.py): if rows
    arrive in (ts, id) order across triggers — true for ordered
    file replay and for any per-key FIFO source — every emitted
    (sup, sdn) is bit-equal to the batch closed form over the full
    series. State never expires under the default NoTimeout; pass a
    processing-time timeout for high-cardinality key spaces.

    availableNow caveat: a ProcessingTimeTimeout value here keeps an
    availableNow run alive until every group's horizon passes (timers
    only fire inside micro-batches — see last_n_window's docstring for
    the full interaction and the explicit-stop backfill shape); use a
    timeout only under continuous triggers.
    """
    out_schema = T.StructType(
        [
            T.StructField(key_col, T.StringType(), False),
            T.StructField(id_col, T.LongType(), False),
            T.StructField("sup", T.LongType(), False),
            T.StructField("sdn", T.LongType(), False),
            T.StructField("up_alarm", T.BooleanType(), False),
            T.StructField("dn_alarm", T.BooleanType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("pup", T.LongType(), False),
            T.StructField("mup", T.LongType(), False),
            T.StructField("pdn", T.LongType(), False),
            T.StructField("mdn", T.LongType(), False),
        ]
    )

    def _update(key, pdf_iter, state):
        k = key[0]
        base = baselines.get(k)
        if base is None:
            # No offline baseline -> nothing to score (see docstring).
            return
        mu, allow, h = (int(v) for v in base)
        if state.exists:
            pup, mup, pdn, mdn = state.get
        else:
            # Virtual P_0 = 0 is included in both running minima.
            pup, mup, pdn, mdn = 0, 0, 0, 0
        chunks = [p for p in pdf_iter if len(p)]
        if not chunks:
            state.update((pup, mup, pdn, mdn))
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            [ts_col, id_col], kind="mergesort"
        )
        xm = pdf[micro_col].to_numpy(dtype=np.int64)
        p_up = pup + np.cumsum(xm - mu - allow, dtype=np.int64)
        p_dn = pdn + np.cumsum(mu - xm - allow, dtype=np.int64)
        m_up = np.minimum(np.minimum.accumulate(p_up), mup)
        m_dn = np.minimum(np.minimum.accumulate(p_dn), mdn)
        sup = p_up - m_up
        sdn = p_dn - m_dn
        state.update(
            (int(p_up[-1]), int(m_up[-1]), int(p_dn[-1]), int(m_dn[-1]))
        )
        yield pd.DataFrame(
            {
                key_col: k,
                id_col: pdf[id_col].to_numpy(dtype=np.int64),
                "sup": sup,
                "sdn": sdn,
                "up_alarm": sup > h,
                "dn_alarm": sdn > h,
            }
        )

    return df.groupBy(key_col).applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )
