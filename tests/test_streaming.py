"""Streaming replay tests (SURVEY.md §5.2.2): file-source replay with
pinned trigger boundaries; streaming results must equal batch twins /
a pure-Python deque simulation of the reference (app/app3_ML.py:129-130)."""

from __future__ import annotations

import collections
import os

import pytest

from tests.conftest import finish
from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.streaming.generator import energy_batch
from real_time_data_anomaly_detection_spark.streaming.source import (
    file_replay_source,
    parse_energy_json,
)
from real_time_data_anomaly_detection_spark.streaming.stateful import last_n_window
from real_time_data_anomaly_detection_spark.streaming.windows import tumbling_agg


@pytest.fixture(scope="module")
def replay_dir(spark, tmp_path_factory):
    """Energy fixture written as 4 parquet files = 4 deterministic
    micro-batches (maxFilesPerTrigger=1)."""
    path = str(tmp_path_factory.mktemp("replay"))
    df = energy_batch(spark, n_rows=3000, seed=9).orderBy("timestamp")
    # One file per quarter of the stream, preserving time order.
    pdf = df.toPandas()
    # tz-localize so parquet gets isAdjustedToUTC=true -> Spark reads
    # TimestampType (watermarks reject TIMESTAMP_NTZ).
    pdf["timestamp"] = pdf["timestamp"].dt.tz_localize("UTC")
    for i in range(4):
        chunk = pdf.iloc[i * 750 : (i + 1) * 750]
        chunk.to_parquet(
            os.path.join(path, f"part-{i:02d}.parquet"),
            index=False,
            coerce_timestamps="us",  # Spark can't scan TIMESTAMP(NANOS)
        )
    return path


def _run_to_memory(spark, stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    finish(q)
    return spark.table(name)


def test_tumbling_stream_equals_batch_twin(spark, replay_dir):
    batch_df = spark.read.parquet(replay_dir)
    stream_df = file_replay_source(spark, replay_dir, batch_df.schema)

    streamed = _run_to_memory(
        spark,
        tumbling_agg(stream_df, duration="1 minute", watermark="2 minutes"),
        "t_tumbling",
    )
    expected = tumbling_agg(batch_df, duration="1 minute", watermark=None)

    import datetime

    got = {tuple(r) for r in streamed.collect()}
    want = {tuple(r) for r in expected.collect()}
    # Exactly the windows closed by the final watermark are emitted:
    # append mode holds back any window with end > (max_ts - delay).
    max_ts = batch_df.agg(F.max("timestamp")).head()[0]
    final_wm = max_ts - datetime.timedelta(minutes=2)
    closed = {t for t in want if t[1] <= final_wm}
    assert got == closed
    assert len(got) > 0


_STATE_STORE_PROVIDERS = {
    "hdfs": "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
}


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_last_n_window_matches_deque_simulation(spark, replay_dir, provider):
    """The stateful last-N pipeline is provider-agnostic: identical
    results under the heap-backed HDFS store and the disk-backed
    RocksDB store (the 100 TB configuration — state spills to local
    disk instead of executor heap). providerClass is read per streaming
    query, so toggling the session conf around the run is the
    supported switch (``get_spark(extra_conf=...)`` sets it per
    session)."""
    batch_df = spark.read.parquet(replay_dir)
    stream_df = file_replay_source(spark, replay_dir, batch_df.schema)

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, _STATE_STORE_PROVIDERS[provider])
    try:
        out = _run_to_memory(
            spark,
            last_n_window(stream_df, n=100, emit="window"),
            f"t_lastn_{provider}",
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    # The memory table accumulates every trigger's emission; the final
    # trigger's window is the last 100 rows per group. Reconstruct the
    # final state: for each group take the newest 100 timestamps emitted.
    got_final = {}
    for r in out.collect():
        got_final.setdefault(r.plant_type, []).append(r.timestamp)

    # Deque simulation of the reference (app/app3_ML.py:39-45, 129-130).
    sim: dict[str, collections.deque] = {}
    for r in sorted(batch_df.collect(), key=lambda r: r.timestamp):
        sim.setdefault(r.plant_type, collections.deque(maxlen=100)).append(r.timestamp)

    for plant, want_ts in sim.items():
        got_ts = sorted(set(got_final[plant]))[-100:]
        assert got_ts == sorted(want_ts), plant


def test_stateful_outlier_stream_runs(spark, replay_dir):
    batch_df = spark.read.parquet(replay_dir)
    stream_df = file_replay_source(spark, replay_dir, batch_df.schema)
    out = _run_to_memory(
        spark,
        last_n_window(stream_df, n=500, emit="outliers", min_rows=50),
        "t_outliers",
    )
    rows = out.collect()
    assert len(rows) > 0
    assert {"score"} <= set(out.columns)
    # Emitted outliers are rows of the stream, enriched in injected anomalies.
    true_rate = sum(1 for r in rows if r.is_anomaly) / len(rows)
    assert true_rate >= 0.3


def test_sliding_stream_equals_batch_twin(spark, replay_dir):
    from real_time_data_anomaly_detection_spark.streaming.windows import sliding_agg

    batch_df = spark.read.parquet(replay_dir)
    stream_df = file_replay_source(spark, replay_dir, batch_df.schema)
    kwargs = dict(duration="2 minutes", slide="1 minute")
    streamed = _run_to_memory(
        spark, sliding_agg(stream_df, watermark="2 minutes", **kwargs), "t_sliding"
    )
    expected = sliding_agg(batch_df, watermark=None, **kwargs)

    import datetime

    got = {tuple(r) for r in streamed.collect()}
    want = {tuple(r) for r in expected.collect()}
    max_ts = batch_df.agg(F.max("timestamp")).head()[0]
    final_wm = max_ts - datetime.timedelta(minutes=2)
    closed = {t for t in want if t[1] <= final_wm}
    assert got == closed and len(got) > 0


def test_watermark_late_row_semantics(spark, tmp_path):
    """Watermark contract (SURVEY.md §5.2.2c), as Spark actually
    guarantees it: rows within the delay are ALWAYS aggregated; rows
    beyond it are dropped once their window's state has been finalized
    (eviction), and drop is best-effort before that. This pins the
    guaranteed part and the evicted-window part.

    Timeline (1-min windows, 5-min delay):
      batch0: m0, m30            -> after commit, watermark = 25
      batch1: m25.5 (in-delay), m31 -> window [0,1) emitted + evicted
      batch2: m0.5               -> window [0,1) already evicted -> DROPPED
    Final watermark 26 closes [0,1) and [25,26).
    """
    import datetime

    import pandas as pd

    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    m = lambda k: base + datetime.timedelta(minutes=k)  # noqa: E731
    files = [
        [("A", m(0)), ("A", m(30))],
        [("A", m(25.5)), ("A", m(31))],
        [("A", m(0.5))],  # straggler into an evicted window
    ]
    path = str(tmp_path / "late")
    os.makedirs(path)
    for i, rows in enumerate(files):
        pd.DataFrame(rows, columns=["plant_type", "timestamp"]).to_parquet(
            os.path.join(path, f"part-{i:02d}.parquet"),
            index=False,
            coerce_timestamps="us",
        )
    schema = spark.read.parquet(path).schema
    stream = file_replay_source(spark, path, schema)
    agg = tumbling_agg(
        stream, duration="1 minute", watermark="5 minutes",
        aggs={"n": F.count(F.lit(1))},
    )
    q = (
        agg.writeStream.format("memory").queryName("late_agg")
        .outputMode("append").trigger(availableNow=True).start()
    )
    finish(q)
    got = {
        (r.window_start.replace(tzinfo=datetime.timezone.utc), r.n)
        for r in spark.table("late_agg").collect()
    }
    # Final watermark = 26: emitted windows are [0,1) and [25,26).
    # The in-delay row m25.5 IS counted (guarantee). The m0.5 straggler
    # must NOT create a duplicate [0,1) emission (state was evicted).
    assert (m(0), 1) in got, got
    assert (m(25), 1) in got, got
    n_window0 = sum(1 for ws, _ in got if ws == m(0))
    assert n_window0 == 1, f"evicted window re-emitted: {got}"


def test_session_window_streaming(spark, tmp_path):
    """Streaming session windows over a 2-file replay: sessions closed
    by the final watermark match the batch twin."""
    import datetime

    import pandas as pd

    from real_time_data_anomaly_detection_spark.streaming.windows import session_agg

    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    m = lambda k: base + datetime.timedelta(minutes=k)  # noqa: E731
    files = [
        [("A", m(0)), ("A", m(1)), ("B", m(0))],
        [("A", m(20)), ("A", m(60))],  # gap>5m splits; m60 drives watermark
    ]
    path = str(tmp_path / "sess")
    os.makedirs(path)
    for i, rows in enumerate(files):
        pd.DataFrame(rows, columns=["plant_type", "timestamp"]).to_parquet(
            os.path.join(path, f"part-{i:02d}.parquet"),
            index=False,
            coerce_timestamps="us",
        )
    schema = spark.read.parquet(path).schema
    stream = file_replay_source(spark, path, schema)
    q = (
        session_agg(stream, gap="5 minutes", watermark="5 minutes")
        .writeStream.format("memory").queryName("t_sess")
        .outputMode("append").trigger(availableNow=True).start()
    )
    finish(q)
    got = {
        (r.plant_type, r.window_start.replace(tzinfo=datetime.timezone.utc), r.n)
        for r in spark.table("t_sess").collect()
    }
    # final watermark = 55; sessions ending before it are emitted:
    # A:[0, 1+5m) n=2, A:[20, 25) n=1, B:[0, 5) n=1. A:[60,...) stays open.
    assert got == {("A", m(0), 2), ("A", m(20), 1), ("B", m(0), 1)}


def test_session_window_batch(spark):
    """Gap-based sessionization: rows <gap apart merge, larger gaps
    split sessions."""
    import datetime

    from real_time_data_anomaly_detection_spark.streaming.windows import session_agg

    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("A", base),
        ("A", base + datetime.timedelta(minutes=1)),
        ("A", base + datetime.timedelta(minutes=20)),  # new session
        ("B", base),
    ]
    df = spark.createDataFrame(rows, "plant_type string, timestamp timestamp")
    out = session_agg(df, gap="5 minutes").collect()
    sessions = {(r.plant_type, r.window_start, r.n) for r in out}
    assert ("A", base, 2) in sessions
    assert ("A", base + datetime.timedelta(minutes=20), 1) in sessions
    assert ("B", base, 1) in sessions
    assert len(out) == 3


def test_detection_pipeline_end_to_end(spark, replay_dir):
    """Full pipeline module: file-replay source → stateful window →
    scoring → memory sink."""
    from real_time_data_anomaly_detection_spark.streaming.pipeline import (
        run_detection_pipeline,
    )

    batch_df = spark.read.parquet(replay_dir)
    stream_df = file_replay_source(spark, replay_dir, batch_df.schema)
    q = run_detection_pipeline(
        spark, stream_df, sink_table="pipe_outliers", trigger={"availableNow": True}
    )
    finish(q)
    out = spark.table("pipe_outliers")
    assert out.count() > 0
    assert "score" in out.columns


def test_last_n_window_with_ttl_runs(spark, replay_dir):
    """TTL-enabled variant executes with ProcessingTimeTimeout and
    produces the same final windows on an uninterrupted replay (no
    group ever idles long enough to expire here; expiry is a
    state-size control for high-cardinality keys).

    Found by the conftest.finish hardening: with
    ProcessingTimeTimeout registered, availableNow CANNOT self-
    terminate — timers only fire inside micro-batches, so Spark's
    MultiBatchExecutor keeps running EMPTY ~1/s batches until the TTL
    horizon (an hour here). The old bare awaitTermination(120) read
    the sink mid-spin and LEAKED the spinning query into the rest of
    the suite. The honest shape: run the no-TTL twin first for the
    expected sink size, poll the TTL query's sink to that size, then
    stop() it explicitly — which is also how a production availableNow
    backfill over a TTL'd operator must be driven (see
    last_n_window's docstring)."""
    import time

    batch_df = spark.read.parquet(replay_dir)
    base = _run_to_memory(
        spark,
        last_n_window(
            file_replay_source(spark, replay_dir, batch_df.schema),
            n=100, emit="window",
        ),
        "t_lastn_ttl_base",
    )
    want = base.count()
    assert want > 0

    stream_df = file_replay_source(spark, replay_dir, batch_df.schema)
    q = (
        last_n_window(stream_df, n=100, emit="window", state_ttl_ms=3_600_000)
        .writeStream.format("memory")
        .queryName("t_lastn_ttl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        deadline = time.time() + 600
        while (
            spark.table("t_lastn_ttl").count() < want
            and time.time() < deadline
        ):
            time.sleep(0.5)
    finally:
        q.stop()
        # assert the stop completed: discarding this return would leak
        # the spinning query into the rest of the suite — the exact
        # failure this test exists to prevent
        assert q.awaitTermination(300), "TTL query did not stop"
    assert spark.table("t_lastn_ttl").count() == want


def test_update_mode_aggregation(spark, replay_dir):
    """Update output mode: per-trigger revisions of open windows reach
    the sink (append would hold them back until the watermark)."""
    batch_df = spark.read.parquet(replay_dir)
    stream_df = file_replay_source(spark, replay_dir, batch_df.schema)
    agg = tumbling_agg(stream_df, duration="1 minute", watermark="2 minutes")
    q = (
        agg.writeStream.format("memory").queryName("t_update")
        .outputMode("update").trigger(availableNow=True).start()
    )
    finish(q)
    got = spark.table("t_update")
    # every (window, key) of the batch twin appears at least once, with
    # the LAST revision equal to the batch value
    want = {
        (r.window_start, r.plant_type): r.n
        for r in tumbling_agg(batch_df, duration="1 minute", watermark=None).collect()
    }
    last_rev = {}
    for r in got.collect():
        last_rev[(r.window_start, r.plant_type)] = r.n  # memory sink appends in order
    assert set(last_rev) == set(want)
    mismatches = {k for k in want if last_rev[k] != want[k]}
    assert not mismatches, mismatches


def test_json_roundtrip_parse(spark):
    """Kafka-path parse parity: to_json → parse_energy_json restores
    typed rows (reference app/app3_ML.py:89-93)."""
    df = energy_batch(spark, n_rows=50).drop("is_anomaly")
    as_json = df.select(
        F.to_json(
            F.struct(
                F.date_format(
                    "timestamp", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"
                ).alias("timestamp"),
                *[F.col(c) for c in df.columns if c != "timestamp"],
            )
        ).alias("value")
    )
    parsed = parse_energy_json(as_json)
    assert parsed.schema.simpleString() == df.schema.simpleString()
    assert parsed.count() == 50
    # Malformed rows are dropped, not crashed on.
    bad = spark.createDataFrame([("{not json",), ("{}",)], "value string")
    assert parse_energy_json(bad).count() == 0


def test_cusum_stream_equals_batch_closed_form(spark, tmp_path_factory):
    """Streaming CUSUM (O(1) state: four BIGINT counters per key) is
    BIT-equal to the batch closed form over the full series when rows
    arrive in (ts, id) order across triggers — the exactness contract
    in streaming/anomaly.cusum_stream's docstring. Baselines are
    trained offline on the same batch (the operator's intended
    split), and both sides consume the identical parquet so the
    micro-unit quantization is the same JVM expression."""
    import os

    import pandas as pd

    from real_time_data_anomaly_detection_spark.io import load_table
    from real_time_data_anomaly_detection_spark.operators.timeseries import (
        _micro_units,
        cusum_baselines,
        cusum_scores,
    )
    from real_time_data_anomaly_detection_spark.streaming.anomaly import cusum_stream

    path = str(tmp_path_factory.mktemp("cusum_replay"))
    src = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "event_type", "value"
    )
    pdf = src.toPandas().sort_values(["ts", "event_id"], ignore_index=True)
    pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")
    n = len(pdf)
    cuts = [0, n // 4, n // 2, 3 * n // 4, n]
    for i in range(4):
        f = os.path.join(path, f"part-{i:02d}.parquet")
        pdf.iloc[cuts[i] : cuts[i + 1]].to_parquet(
            f, index=False, coerce_timestamps="us"
        )
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    batch_df = spark.read.parquet(path)
    x = batch_df.select(
        "event_id", "ts", "event_type", _micro_units(F.col("value")).alias("xm")
    )
    bl = cusum_baselines(x)
    expected = {
        r["event_id"]: (r["sup"], r["sdn"], r["sup"] > r["h"], r["sdn"] > r["h"])
        for r in cusum_scores(x, bl).collect()
    }
    bl_map = {r["event_type"]: (r["mu"], r["k"], r["h"]) for r in bl.collect()}

    stream_df = file_replay_source(spark, path, batch_df.schema).select(
        "event_id", "ts", "event_type", _micro_units(F.col("value")).alias("xm")
    )
    scored = cusum_stream(stream_df, bl_map)
    q = (
        scored.writeStream.format("memory")
        .queryName("t_cusum")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    finish(q)
    got = {
        r["event_id"]: (r["sup"], r["sdn"], r["up_alarm"], r["dn_alarm"])
        for r in spark.table("t_cusum").collect()
    }
    assert len(got) == len(expected) == len(pdf)
    assert got == expected
    # The fixture actually alarms (both directions exist at sf0.001 up;
    # assert at least the up side fires so the test can't pass vacuously).
    assert any(v[2] for v in got.values())
