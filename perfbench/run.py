"""Benchmark entry point for the streaming anomaly-detection engine.

    python3 perfbench/run.py --workload stream_ref --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) in a fresh Spark session sized
to this host, checks its outputs, and prints as the last stdout line
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
Spark's event log and job-group tags and reports the per-layer metrics
(including the traced run's own end-to-end figures, so the tracing
overhead is their difference from an untraced run). A traced run also
prints a ``LAYERS`` line with the workload's own layer split. Every run
prints a ``CALIB`` line: the fixed JVM probe taken before and after the
measured phase, so a run caught in a host stall is visible.

All scratch output goes under ``.perfbench/`` beside this directory;
seeded replay files are cached there per seed. Batch queries read the
sf0.1 tables from the engine's ``io.DEFAULT_SF_DIR`` (``$SPARK_GRAFT_SF_DIR``
overrides it).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T0 = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "real_time_data_anomaly_detection_spark"
WORKLOADS = ("stream_ref", "stream_replay", "batch_queries")

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p95_s": "s",
    "throughput_per_s": "1/s",
}
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.first_op_s": "s",
    "calib.jvm_s": "s",
    "io.scan_s": "s",
    "iforest.fit_ms": "ms",
    "iforest.score_ms": "ms",
    "mem.peak_rss_mb": "MB",
    "ops.count": "count",
    "ops.p50_s": "s",
    "ops.p95_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.python_rows": "count",
    "spark.shuffle_mb": "MB",
    "spark.driver_gap_s": "s",
    "trace.accounted_share": "ratio",
    "sinks.rows_out": "count",
    **{f"traced.{k}": u for k, u in E2E_UNITS.items()},
}


def unit_of(name: str) -> str:
    """Unit of a workload-specific layer metric, from its name."""
    for suffix, unit in (("_per_s", "1/s"), ("_1core", "1/s"), ("_4core", "1/s"), ("_ms", "ms"),
                         ("_s", "s"), ("_mb", "MB"), ("_bytes", "bytes"), ("share", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the smoke test")
    ap.add_argument(
        "--expect-digest",
        default=None,
        help="replace the pinned expectation (smoke test: a wrong value must fail every check)",
    )
    return ap.parse_args(argv)


def host_env(work: str) -> None:
    """Fit the engine to this host and keep its scratch output in ``work``.

    Runs before the JVM starts, so workers inherit it."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) / 2**20
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, int(mem_gb // 4)))}g"
    # Python workers start in the JVM's working directory; they find the
    # package only through PYTHONPATH.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONWARNINGS"] = "ignore"
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    sys.path[:0] = [ROOT, HERE]


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def run(args, work: str, cache: str) -> dict:
    import measure
    import workloads as W

    with open(os.path.join(HERE, "pins.json")) as fh:
        pins = json.load(fh)
    from real_time_data_anomaly_detection_spark.io import DEFAULT_SF_DIR as sf_dir
    ctx = W.Ctx(args, work, cache, sf_dir, pins)
    if ctx.trace:
        ctx.rss = measure.RssSampler()
        ctx.rss.start()
    spark, get_spark_s = W.start_session(ctx, event_log=ctx.trace)
    spark.sparkContext.setJobGroup("run", "run")
    log("session up")
    if args.workload == "stream_replay":
        # Input generation runs before the first trigger's clock starts,
        # so it is not part of setup_s.
        ctx.replay_dir = W.replay_files(ctx, spark, *W.replay_size(ctx))
    log("inputs ready")
    W.calib_probe(ctx, spark, keep=False)  # compiles the probe's code
    W.calib_probe(ctx, spark)
    e2e = getattr(W, args.workload)(ctx, spark)
    ctx.measured()
    log("workload done")
    W.calib_probe(ctx, spark)
    ops = e2e.pop("ops")
    samples = e2e.pop("samples")
    e2e["setup_s"] = get_spark_s + ctx.session["first_op_s"]

    metrics = {k: e2e[k] for k in E2E_UNITS}
    print("CALIB " + json.dumps({"jvm_s_before": ctx.calib[0], "jvm_s_after": ctx.calib[-1]}))
    print("SAMPLES " + json.dumps({"latency": samples, "operations": len(ops)}))
    if ctx.trace:
        layers = {
            "session.get_spark_s": get_spark_s,
            "session.first_op_s": ctx.session["first_op_s"],
            "calib.jvm_s": max(ctx.calib),
            "io.scan_s": W.io_scan_probe(spark, sf_dir),
            "mem.peak_rss_mb": ctx.rss.peak_mb,
            "ops.count": float(len(ops)),
            "ops.p50_s": measure.quantile(ops, 0.5),
            "ops.p95_s": measure.quantile(ops, 0.95),
            **{f"traced.{k}": v for k, v in metrics.items()},
        }
        if "iforest.fit_ms" not in ctx.layers:
            probe = W.iforest_probe(ctx, spark)
            ctx.layers["iforest.fit_ms"] = probe["fit_ms"]
            ctx.layers["iforest.score_ms"] = probe["score_ms"]
        log("probes done")
        spark.stop()  # flushes the event log
        elog = measure.read_event_log(ctx.path("eventlog"))
        if args.workload == "batch_queries":
            jobs = [j for j in elog.jobs.values() if j["end"] and (j["group"] or "").startswith("q")]
            wall = sum(w for runs in ctx.batch_spans.values() for _, w in runs)
            W.batch_event_layers(ctx, elog)
            ctx.layers["sinks.rows_out"] = float(ctx.batch_rows)
        else:
            jobs = [
                j
                for j in elog.select_jobs(window=ctx.window)
                if j["group"] not in ("calib", "probe", "generate")
            ]
            wall = ctx.window[1] - ctx.window[0]
        summary = elog.summarize(jobs, wall)
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "python_rows", "shuffle_mb", "driver_gap_s"):
            layers[f"spark.{k}"] = summary[k]
        ctx.layers["spark.spill_mb"] = summary["spill_mb"]
        if args.workload == "stream_replay":
            ctx.layers["stream_replay.rows_per_s_1core"] = W.replay_one_core(ctx)
            ctx.layers["stream_replay.rows_per_s_4core"] = metrics["throughput_per_s"]
        for k in ("iforest.fit_ms", "iforest.score_ms", "trace.accounted_share", "sinks.rows_out"):
            layers[k] = ctx.layers[k]
        log("layers done")
        print("LAYERS " + json.dumps(
            {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(ctx.layers.items())}
        ))
        metrics = {k: layers[k] for k in LAYER_UNITS}
        units = LAYER_UNITS
    else:
        spark.stop()
        units = E2E_UNITS
    if ctx.problems:
        print("FAILED " + json.dumps(ctx.problems), file=sys.stderr)
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def stop_jvm() -> None:
    """Close the py4j gateway; the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found beside {HERE}; run from a checkout", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    cache = os.path.join(base, "cache")
    os.makedirs(cache, exist_ok=True)
    host_env(work)
    import measure

    try:
        result = run(args, work, cache)
    finally:
        stop_jvm()
        measure.reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
