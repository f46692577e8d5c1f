"""The benchmark's three workloads.

Each workload drives the engine only through its public functions and
returns its end-to-end figures; checks count into ``ctx.attempted`` /
``ctx.failed``. In a traced run a workload also fills ``ctx.layers``
with its own layer split (progress ``durationMs``, state store, event
log per query and module, driver-side probes).

- ``stream_ref``: open loop, rate source at 1,000 ev/s (the reference's
  configured cap) → JSON wire → ``parse_energy_json`` →
  ``run_detection_pipeline`` with a 1 s trigger. Per-trigger fixed cost
  dominates; rows are stamped on a wall-clock schedule that does not
  slow with the engine, so stalls show up as event→outlier latency.
- ``stream_replay``: closed loop over seeded JSON-lines files of
  ``REPLAY_ROWS`` rows, one file per trigger (``availableNow``,
  ``maxFilesPerTrigger=1``). Per-row cost dominates and trigger
  boundaries are pinned, so outputs are checked exactly against a
  pandas replay and a digest pinned per seed.
- ``batch_queries``: closed loop over 21 registry queries at sf0.1
  through a noop sink, in a fixed order, after a JVM warm-up on the scan
  path. A pass times each query's first execution in the session (plan,
  codegen and run); later passes, if the run lasts, are warm. Exercises
  ``operators`` and ``io`` and no streaming code. Its inputs are the
  fixed sf0.1 tables, so the seed does not change them.
"""

from __future__ import annotations

import bisect
import json
import os
import shutil
import time

from measure import DURATION_PARTS, median, progress_split, progress_ts, quantile, state_metrics

import reference

STREAM_PARTITIONS = 4
REF_RATE = 1000
REPLAY_FILES = 4
REPLAY_ROWS = 100_000
#: Band for stream_ref's outliers ÷ rows the detector scored (contamination 0.05).
SHARE_BAND = (0.025, 0.075)
CALIB_ROWS = 200_000_000

HEADLINE = [
    "q_agg_group",
    "q_join_inner",
    "q_join_3way",
    "q_tpch_q3",
    "q_tpch_q10",
    "q_window_rank",
    "q_window_tumbling_batch",
    "q_topk",
    "q_json_get",
    "q_asof_join",
    "q_dedup_exact",
    "q_text_tokens",
    "q_cosine_topk",
    "q_embed_neardup",
    "q_minhash_neardup",
]
HEAVY = [
    "q_pagerank",
    "q_prefix_jaccard",
    "q_semantic_dedup",
    "q_split_leakage_safe",
    "q_cluster_stats_md5",
    "q_pq_topk",
]
SMOKE_QUERIES = ["q_topk", "q_agg_group"]


class Ctx:
    """Per-run state: arguments, directories, checks and traced figures."""

    def __init__(self, args, work: str, cache: str, sf_dir: str, pins: dict):
        self.args = args
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.work = work
        self.cache = cache
        self.sf_dir = sf_dir
        self.pins = pins
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layers: dict[str, float] = {}
        self.calib: list[float] = []
        self.session: dict[str, float] = {}
        self.rss = None  # measure.RssSampler over set-up and the measured phase (traced runs)
        self.replay_dir = ""
        self.window = (0.0, 0.0)
        self.batch_spans: dict[str, list[tuple[str, float]]] = {}
        self.batch_rows = 0

    def measured(self) -> None:
        """End of the measured phase: later work is checks and probes."""
        if self.rss is not None:
            self.rss.stop()

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def fail(self, n: int, why: str) -> None:
        if n:
            self.failed += n
            self.problems.append(why)


# --------------------------------------------------------------------------
# session and probes
# --------------------------------------------------------------------------


def start_session(ctx: Ctx, master: str | None = None, event_log: bool = False):
    from real_time_data_anomaly_detection_spark.session import get_spark

    conf = {
        "spark.local.dir": ctx.path("local"),
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.path('tmp')} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(ctx.path("eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ctx.path("eventlog"),
                # Spark 4 defaults to zstd, which this benchmark cannot read.
                "spark.eventLog.compress": "false",
            }
        )
    t0 = time.time()
    spark = get_spark(app_name="perfbench", master=master, extra_conf=conf)
    return spark, time.time() - t0


def calib_probe(ctx: Ctx, spark, keep: bool = True) -> None:
    """Fixed JVM-only sum; brackets each run so host stalls are visible."""
    spark.sparkContext.setJobGroup("calib", "calib")
    t0 = time.time()
    spark.range(CALIB_ROWS).selectExpr("sum(id * 2 + 1) AS s").collect()
    if keep:
        ctx.calib.append(time.time() - t0)
    spark.sparkContext.setJobGroup("run", "run")


def io_scan_probe(spark, sf_dir: str) -> float:
    from real_time_data_anomaly_detection_spark.io import load_table

    spark.sparkContext.setJobGroup("probe", "probe")
    ts = []
    for _ in range(3):
        t0 = time.time()
        load_table(spark, sf_dir, "lineitem").selectExpr(
            "sum(l_extendedprice * (1 - l_discount)) AS s"
        ).collect()
        ts.append(time.time() - t0)
    spark.sparkContext.setJobGroup("run", "run")
    return median(ts)


def iforest_probe(ctx: Ctx, spark) -> dict[str, float]:
    """Driver-side fit/score time on 500-row windows of the seed's events."""
    from real_time_data_anomaly_detection_spark.functions.iforest import IsolationForest
    from real_time_data_anomaly_detection_spark.schemas import PLANT_FEATURES
    from real_time_data_anomaly_detection_spark.streaming.generator import energy_batch

    spark.sparkContext.setJobGroup("probe", "probe")
    pdf = energy_batch(spark, n_rows=4000, seed=ctx.seed).toPandas()
    spark.sparkContext.setJobGroup("run", "run")
    fit, score = [], []
    for plant, feats in PLANT_FEATURES.items():
        window = pdf[pdf["plant_type"] == plant].sort_values("timestamp").tail(reference.WINDOW)
        X = window[feats].astype(float).to_numpy()
        t0 = time.perf_counter()
        model = IsolationForest(
            contamination=reference.CONTAMINATION, random_state=reference.RANDOM_STATE
        ).fit(X)
        t1 = time.perf_counter()
        model.score_samples(X)
        t2 = time.perf_counter()
        fit.append((t1 - t0) * 1000.0)
        score.append((t2 - t1) * 1000.0)
    return {"fit_ms": median(fit), "score_ms": median(score)}


def groups_per_task(spark, partitions: int) -> int:
    """Most plant types that hash-partitioning puts into one shuffle partition."""
    from real_time_data_anomaly_detection_spark.schemas import PLANT_TYPES

    spark.sparkContext.setJobGroup("probe", "probe")
    rows = (
        spark.createDataFrame([(p,) for p in PLANT_TYPES], "plant_type string")
        .selectExpr(f"pmod(hash(plant_type), {partitions}) AS part")
        .groupBy("part")
        .count()
        .collect()
    )
    spark.sparkContext.setJobGroup("run", "run")
    return max(r["count"] for r in rows)


# --------------------------------------------------------------------------
# streaming helpers
# --------------------------------------------------------------------------


def _wire_value():
    """An energy row as one JSON ``value``, as the producer sends it."""
    from pyspark.sql import functions as F

    from real_time_data_anomaly_detection_spark.schemas import ENERGY_WIRE_SCHEMA

    cols = [F.col(f.name) for f in ENERGY_WIRE_SCHEMA.fields]
    return F.to_json(F.struct(*cols)).alias("value")


def _observed_source(raw):
    """parse_energy_json over ``raw`` with rows-in/rows-out/event-time bounds
    recorded per trigger in ``progress.observedMetrics``."""
    from pyspark.sql import functions as F

    from real_time_data_anomaly_detection_spark.streaming.source import parse_energy_json

    from real_time_data_anomaly_detection_spark.schemas import PLANT_TYPES

    raw = raw.observe("raw", F.count(F.lit(1)).alias("rows"))
    return parse_energy_json(raw).observe(
        "parsed",
        F.count(F.lit(1)).alias("rows"),
        F.min(F.unix_micros("timestamp")).alias("min_us"),
        F.max(F.unix_micros("timestamp")).alias("max_us"),
        *[
            F.sum((F.col("plant_type") == p).cast("int")).alias(f"rows_{i}")
            for i, p in enumerate(PLANT_TYPES)
        ],
    )


def _scored_rows(p: dict) -> int:
    """Rows of a trigger the detector can emit: per plant type, at most the
    window's ``WINDOW`` newest rows are scored."""
    from real_time_data_anomaly_detection_spark.schemas import PLANT_TYPES

    return sum(
        min(_obs(p, "parsed", f"rows_{i}") or 0, reference.WINDOW) for i in range(len(PLANT_TYPES))
    )


def _obs(p: dict, name: str, field: str):
    return (p.get("observedMetrics") or {}).get(name, {}).get(field)


def _progress(q) -> list[dict]:
    """The query's retained progress records as plain dictionaries."""
    return [json.loads(p.json) for p in q.recentProgress]


def _commit(p: dict) -> float:
    return progress_ts(p) + p["batchDuration"] / 1000.0


def _sink_rows(spark, table: str) -> list[tuple]:
    return [
        (r["plant_type"], int(r["us"]), float(r["score"]))
        for r in spark.sql(
            f"SELECT plant_type, unix_micros(timestamp) AS us, score FROM {table}"
        ).collect()
    ]


def _by_trigger(progs: list[dict], rows: list[tuple]):
    """Map sink rows to the trigger that read them, by the event-time range
    each trigger observed. Returns ({batchId: rows}, unmapped rows)."""
    spans = sorted(
        (_obs(p, "parsed", "min_us"), _obs(p, "parsed", "max_us"), p["batchId"])
        for p in progs
        if _obs(p, "parsed", "rows")
    )
    out: dict[int, list[tuple]] = {p["batchId"]: [] for p in progs}
    unmapped = []
    lows = [s[0] for s in spans]
    for row in rows:
        i = bisect.bisect_right(lows, row[1]) - 1
        if i >= 0 and row[1] <= spans[i][1]:
            out[spans[i][2]].append(row)
        else:
            unmapped.append(row)
    return out, unmapped


def _stream_layers(ctx: Ctx, spark, progs: list[dict], stop_s: float, rows_out: int) -> None:
    n = len(progs)
    split = progress_split(progs)
    state = state_metrics(progs)
    durations = [p["batchDuration"] / 1000.0 for p in progs]
    lag = [
        progress_ts(p) - _obs(p, "parsed", "max_us") / 1e6
        for p in progs
        if _obs(p, "parsed", "max_us") is not None
    ]
    ctx.layers.update(
        {
            "pipeline.triggers": float(n),
            "pipeline.trigger_p50_s": quantile(durations, 0.5),
            "pipeline.trigger_p95_s": quantile(durations, 0.95),
            "pipeline.add_batch_s": split["addBatch"] / n,
            "pipeline.planning_s": split["queryPlanning"] / n,
            "pipeline.wal_commit_s": split["walCommit"] / n,
            "pipeline.commit_offsets_s": split["commitOffsets"] / n,
            "pipeline.driver_overhead_s": (split["triggerExecution"] - split["addBatch"]) / n,
            "pipeline.rows_per_trigger": sum(p["numInputRows"] for p in progs) / n,
            "source.lag_s": median(lag) if lag else 0.0,
            "source.latest_offset_s": split["latestOffset"] / n,
            "source.dropped_rows": float(
                sum((_obs(p, "raw", "rows") or 0) - (_obs(p, "parsed", "rows") or 0) for p in progs)
            ),
            "stateful.state_rows": state["state_rows"],
            "stateful.state_bytes": state["state_bytes"],
            "stateful.update_s": state["update_s"] / n,
            "stateful.commit_s": state["commit_s"] / n,
            "sinks.rows_out": float(rows_out),
            "sinks.stop_s": stop_s,
            "trace.accounted_share": sum(split[k] for k in DURATION_PARTS) / split["batchDuration"],
        }
    )
    probe = iforest_probe(ctx, spark)
    per_task = groups_per_task(spark, STREAM_PARTITIONS)
    ctx.layers["iforest.fit_ms"] = probe["fit_ms"]
    ctx.layers["iforest.score_ms"] = probe["score_ms"]
    ctx.layers["iforest.groups_per_task"] = float(per_task)
    ctx.layers["iforest.share"] = (
        (probe["fit_ms"] + probe["score_ms"]) / 1000.0 * per_task / ctx.layers["pipeline.add_batch_s"]
    )


# --------------------------------------------------------------------------
# stream_ref
# --------------------------------------------------------------------------


def _wait_for(q, pred, timeout_s: float) -> dict:
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        for p in _progress(q):
            if pred(p):
                return p
        time.sleep(0.05)
    raise TimeoutError("stream made no progress")


def stream_ref(ctx: Ctx, spark) -> dict[str, float]:
    from real_time_data_anomaly_detection_spark.streaming.generator import energy_rate_stream
    from real_time_data_anomaly_detection_spark.streaming.pipeline import run_detection_pipeline
    from real_time_data_anomaly_detection_spark.streaming.sinks import stop_gracefully

    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_PARTITIONS))
    rate = energy_rate_stream(spark, rows_per_second=REF_RATE, seed=ctx.seed)
    src = _observed_source(rate.select(_wire_value()))
    t_start = time.time()
    q = run_detection_pipeline(spark, src, sink_table="ref_out", checkpoint=ctx.path("ref_ckpt"))
    try:
        first = _wait_for(q, lambda p: p["numInputRows"] > 0, 120)
        ctx.session["first_op_s"] = _commit(first) - t_start
        # One more trigger drains the rows that queued behind set-up.
        warm = _wait_for(q, lambda p: p["batchId"] > first["batchId"], 60)
        t_measure = _commit(warm)
        while time.time() < t_measure + ctx.args.seconds:
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            time.sleep(0.1)
    finally:
        t0 = time.time()
        stop_gracefully(q, timeout_sec=60)
        stop_s = time.time() - t0
        ctx.measured()
    t_end = t_measure + ctx.args.seconds
    all_progs = [p for p in _progress(q) if p["numInputRows"] > 0]
    progs = [p for p in all_progs if p["batchId"] > warm["batchId"] and progress_ts(p) < t_end]
    rows = _sink_rows(spark, "ref_out")
    mapped, unmapped = _by_trigger(all_progs, rows)

    # Checks: scores in (0, 1], no event emitted twice, outlier share of
    # the scored rows near the contamination, every emitted row read by
    # some trigger.
    ctx.attempted += len(progs)
    seen: dict[tuple, int] = {}
    for r in rows:
        seen[(r[0], r[1])] = seen.get((r[0], r[1]), 0) + 1
    bad = 0
    for p in progs:
        out = mapped[p["batchId"]]
        if any(not (0.0 < r[2] <= 1.0) or seen[(r[0], r[1])] > 1 for r in out):
            bad += 1
    ctx.fail(bad, f"{bad} triggers emitted a score outside (0, 1] or a duplicate event")
    scored = sum(_scored_rows(p) for p in all_progs)
    share = len(rows) / scored if scored else 0.0
    if not SHARE_BAND[0] <= share <= SHARE_BAND[1]:
        ctx.fail(len(progs) - bad, f"outlier share {share:.4f} outside {SHARE_BAND}")
    elif unmapped:
        ctx.fail(len(progs) - bad, f"{len(unmapped)} outliers match no trigger's input")

    latencies = [_commit(p) - r[1] / 1e6 for p in progs for r in mapped[p["batchId"]]]
    if not latencies or not progs:
        raise RuntimeError("stream_ref emitted no outliers inside the measured window")
    if ctx.trace:
        ctx.layers["outlier.samples"] = float(len(latencies))
        ctx.layers["outlier.share"] = share
        _stream_layers(ctx, spark, progs, stop_s, len(rows))
    ctx.window = (t_measure, t_end)
    return {
        "latency_p50_s": quantile(latencies, 0.5),
        "latency_p95_s": quantile(latencies, 0.95),
        "samples": len(latencies),
        "throughput_per_s": sum(p["numInputRows"] for p in progs)
        / sum(p["batchDuration"] / 1000.0 for p in progs),
        "ops": [p["batchDuration"] / 1000.0 for p in progs],
    }


# --------------------------------------------------------------------------
# stream_replay
# --------------------------------------------------------------------------


def replay_files(ctx: Ctx, spark, n_files: int, rows: int) -> str:
    """Seeded JSON-lines replay files (one trigger each), cached per seed.

    Written from ``energy_batch`` in event-time order; modification times
    are spaced so the file source reads them in order."""
    from pyspark.sql import functions as F

    from real_time_data_anomaly_detection_spark.streaming.generator import energy_batch

    final = os.path.join(ctx.cache, f"replay_s{ctx.seed}_{n_files}x{rows}")
    if os.path.exists(os.path.join(final, "files", "_DONE")):
        return final
    tmp = final + f".tmp{os.getpid()}"
    os.makedirs(os.path.join(tmp, "files"))
    spark.sparkContext.setJobGroup("generate", "generate")
    df = energy_batch(spark, n_rows=n_files * rows, seed=ctx.seed)
    start = df.agg(F.min(F.unix_micros("timestamp"))).first()[0]
    # energy_batch spaces events 125 ms apart: file i holds events [i*rows, (i+1)*rows).
    df = df.withColumn(
        "_file", ((F.unix_micros("timestamp") - F.lit(start)) / F.lit(125_000 * rows)).cast("int")
    )
    out = os.path.join(tmp, "w")
    (
        df.repartition(n_files, "_file")
        .sortWithinPartitions("_file", "timestamp")
        .select(_wire_value(), "_file")
        .write.partitionBy("_file")
        .text(out)
    )
    t_files = time.time() - 10 * n_files
    for i in range(n_files):
        part_dir = os.path.join(out, f"_file={i}")
        (part,) = [f for f in os.listdir(part_dir) if f.startswith("part-")]
        dest = os.path.join(tmp, "files", f"part-{i:03d}.json")
        os.replace(os.path.join(part_dir, part), dest)
        os.utime(dest, (t_files + 10 * i, t_files + 10 * i))
    shutil.rmtree(out)
    spark.sparkContext.setJobGroup("run", "run")
    open(os.path.join(tmp, "files", "_DONE"), "w").close()
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


def expected_outliers(data_dir: str) -> list[list[tuple]]:
    """The pandas replay's outliers per file, cached beside the files."""
    path = os.path.join(data_dir, "expected.json")
    if not os.path.exists(path):
        files = os.path.join(data_dir, "files")
        paths = sorted(os.path.join(files, f) for f in os.listdir(files) if f.endswith(".json"))
        with open(path + ".tmp", "w") as fh:
            json.dump(reference.replay_outliers(paths), fh)
        os.replace(path + ".tmp", path)
    with open(path) as fh:
        return [sorted(tuple(r) for r in f) for f in json.load(fh)]


def _replay_once(ctx: Ctx, spark, files_dir: str, name: str, detect: bool = True):
    """One availableNow replay of ``files_dir``; returns (wall_s, progress, start time)."""
    from real_time_data_anomaly_detection_spark.streaming.pipeline import build_detection_stream
    from real_time_data_anomaly_detection_spark.streaming.stateful import last_n_window

    src = _observed_source(spark.readStream.option("maxFilesPerTrigger", 1).text(files_dir))
    out = build_detection_stream(src) if detect else last_n_window(src, n=reference.WINDOW)
    writer = out.writeStream.outputMode("append").trigger(availableNow=True)
    writer = writer.format("memory").queryName(name) if detect else writer.format("noop")
    ckpt = ctx.path(f"ckpt_{name}")
    t0 = time.time()
    q = writer.option("checkpointLocation", ckpt).start()
    if not q.awaitTermination(150):
        q.stop()
        raise TimeoutError(f"replay {name} did not drain")
    wall = time.time() - t0
    if q.exception() is not None:
        raise RuntimeError(f"replay {name} failed: {q.exception()}")
    shutil.rmtree(ckpt, ignore_errors=True)
    return wall, [p for p in _progress(q) if p["numInputRows"] > 0], t0


def replay_size(ctx: Ctx) -> tuple[int, int]:
    return (2, 5000) if ctx.args.smoke else (REPLAY_FILES, REPLAY_ROWS)


def stream_replay(ctx: Ctx, spark) -> dict[str, float]:
    n_files, rows = replay_size(ctx)
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_PARTITIONS))
    files = os.path.join(ctx.replay_dir, "files")
    # Warm-up: a one-file replay pays the query's first-trigger set-up.
    warm_dir = ctx.path("warm_files")
    os.makedirs(warm_dir, exist_ok=True)
    shutil.copy(os.path.join(files, "part-000.json"), warm_dir)
    _, warm_progs, warm_t0 = _replay_once(ctx, spark, warm_dir, "replay_warm")
    ctx.session["first_op_s"] = _commit(warm_progs[0]) - warm_t0
    spark.catalog.dropTempView("replay_warm")

    walls, progs_all, outputs = [], [], []
    t_measure = time.time()
    while not walls or time.time() < t_measure + ctx.args.seconds:
        name = f"replay_{len(walls)}"
        wall, progs, _ = _replay_once(ctx, spark, files, name)
        mapped, unmapped = _by_trigger(progs, _sink_rows(spark, name))
        spark.catalog.dropTempView(name)
        got = [sorted((r[0], r[1], round(r[2], 9)) for r in mapped[p["batchId"]]) for p in progs]
        outputs.append((got, len(unmapped)))
        walls.append(wall)
        progs_all.extend(progs)
    ctx.window = (t_measure, time.time())
    ctx.measured()

    # Checks: each trigger's outliers equal the pandas replay's for its
    # file, and the whole output equals the digest pinned for this seed.
    expected = expected_outliers(ctx.replay_dir)
    pin = ctx.args.expect_digest or ctx.pins.get("replay", {}).get(f"{n_files}x{rows}", {}).get(
        str(ctx.seed)
    )
    for rep, (got, n_unmapped) in enumerate(outputs):
        ctx.attempted += n_files
        bad = sum(1 for i in range(n_files) if i >= len(got) or got[i] != expected[i])
        if bad == 0 and n_unmapped:
            bad = n_files
        ctx.fail(bad, f"rep {rep}: {bad} triggers differ from the pandas replay")
        if pin and reference.digest(r for f in got for r in f) != pin:
            ctx.fail(n_files - bad, f"rep {rep}: output digest differs from the pinned digest")

    durations = [p["batchDuration"] / 1000.0 for p in progs_all]
    total_rows = n_files * rows
    if ctx.trace:
        ctx.layers["replay.reps"] = float(len(walls))
        _stream_layers(ctx, spark, progs_all, 0.0, sum(len(f) for f, _ in outputs))
        del ctx.layers["sinks.stop_s"]  # availableNow queries end by themselves
        _replay_probes(ctx, spark, files, total_rows)
    return {
        "latency_p50_s": quantile(durations, 0.5),
        "latency_p95_s": quantile(durations, 0.95),
        "throughput_per_s": median([total_rows / w for w in walls]),
        "samples": len(durations),
        "ops": durations,
    }


def _replay_probes(ctx: Ctx, spark, files: str, total_rows: int) -> None:
    from real_time_data_anomaly_detection_spark.streaming.source import parse_energy_json

    spark.sparkContext.setJobGroup("probe", "probe")
    ts = []
    for _ in range(2):
        t0 = time.time()
        parse_energy_json(spark.read.text(files)).write.format("noop").mode("overwrite").save()
        ts.append(time.time() - t0)
    ctx.layers["source.parse_rows_per_s"] = total_rows / median(ts)
    wall, _, _ = _replay_once(ctx, spark, files, "replay_window", detect=False)
    ctx.layers["stateful.window_rows_per_s"] = total_rows / wall
    spark.sparkContext.setJobGroup("run", "run")


def replay_one_core(ctx: Ctx) -> float:
    """rows/s of the same replay on a fresh ``local[1]`` session."""
    spark, _ = start_session(ctx, master="local[1]")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_PARTITIONS))
    n_files, rows = replay_size(ctx)
    wall, _, _ = _replay_once(ctx, spark, os.path.join(ctx.replay_dir, "files"), "replay_1core")
    spark.stop()
    return n_files * rows / wall


# --------------------------------------------------------------------------
# batch_queries
# --------------------------------------------------------------------------


def _checked_run(spark, fn, sf_dir: str):
    """Run a query into the noop sink, observing its row count and an
    order-insensitive hash in the same execution."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    df = fn(spark, sf_dir)
    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    obs = Observation("check")
    df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(h).alias("xor"),
        F.sum(F.pmod(h, F.lit(1_000_000_007))).alias("sum"),
    ).write.format("noop").mode("overwrite").save()
    m = obs.get
    return [int(m["rows"]), int(m["xor"] or 0), int(m["sum"] or 0)]


def batch_queries(ctx: Ctx, spark) -> dict[str, float]:
    from real_time_data_anomaly_detection_spark.operators import REGISTRY

    names = SMOKE_QUERIES if ctx.args.smoke else HEADLINE + HEAVY
    pins = ctx.pins.get("batch", {})
    sc = spark.sparkContext
    # Set-up warms the JVM on the parquet scan path; the queries' own
    # first executions (plan, codegen, Python workers) are measured.
    t0 = time.time()
    io_scan_probe(spark, ctx.sf_dir)
    ctx.session["first_op_s"] = time.time() - t0

    walls: dict[str, list[float]] = {n: [] for n in names}
    spans: dict[str, list[tuple[str, float]]] = {n: [] for n in names}
    passes = []
    t_measure = time.time()
    while not passes or time.time() < t_measure + ctx.args.seconds:
        t_pass = time.time()
        for name in names:
            group = f"q{len(passes)}:{name}"
            sc.setJobGroup(group, name)
            ctx.attempted += 1
            t = time.time()
            try:
                got = _checked_run(spark, REGISTRY[name].spark_fn, ctx.sf_dir)
            except Exception as exc:  # a failing query is a failed operation
                ctx.fail(1, f"{name} raised {type(exc).__name__}: {exc}")
                continue
            walls[name].append(time.time() - t)
            spans[name].append((group, walls[name][-1]))
            ctx.batch_rows += got[0]
            want = ctx.args.expect_digest or pins.get(name)
            if want is not None and got != want:
                ctx.fail(1, f"{name}: rows/hash {got} != pinned {want}")
        passes.append(time.time() - t_pass)
    sc.setJobGroup("run", "run")
    ctx.window = (t_measure, time.time())
    ctx.measured()
    ctx.batch_spans = spans
    if ctx.trace:
        head = [n for n in names if n in HEADLINE]
        heavy = [n for n in names if n in HEAVY]
        med = {n: median(w) for n, w in walls.items() if w}
        ctx.layers["batch.passes"] = float(len(passes))
        ctx.layers["batch.headline_pass_s"] = sum(med[n] for n in head if n in med)
        ctx.layers["batch.heavy_pass_s"] = sum(med[n] for n in heavy if n in med)
        for n, v in med.items():
            module = REGISTRY[n].spark_fn.__module__.rsplit(".", 1)[-1]
            ctx.layers[f"operators.{module}.{n}_s"] = v
    samples = [w for ws in walls.values() for w in ws]
    if not samples:
        raise RuntimeError("no query completed")
    return {
        "latency_p50_s": quantile(samples, 0.5),
        "latency_p95_s": quantile(samples, 0.95),
        "throughput_per_s": len(samples) / sum(passes),
        "samples": len(samples),
        "ops": samples,
    }


def batch_event_layers(ctx: Ctx, log) -> None:
    """Per-module event-log split of the timed passes (traced runs)."""
    from real_time_data_anomaly_detection_spark.operators import REGISTRY

    per_module: dict[str, dict[str, float]] = {}
    for name, runs in ctx.batch_spans.items():
        module = REGISTRY[name].spark_fn.__module__.rsplit(".", 1)[-1]
        acc = per_module.setdefault(module, {})
        for group, wall in runs:
            s = log.summarize(log.select_jobs(group=group), wall)
            for k in ("jobs", "stages", "executor_run_s", "python_rows", "shuffle_mb", "spill_mb", "driver_gap_s", "stage_s"):
                acc[k] = acc.get(k, 0.0) + s[k]
            acc["wall_s"] = acc.get("wall_s", 0.0) + wall
    for module, acc in sorted(per_module.items()):
        for k, v in acc.items():
            if k not in ("wall_s", "stage_s"):
                ctx.layers[f"operators.{module}.{k}"] = v
    wall = sum(a["wall_s"] for a in per_module.values())
    ctx.layers["trace.accounted_share"] = (
        sum(a["stage_s"] + a["driver_gap_s"] for a in per_module.values()) / wall
    )
