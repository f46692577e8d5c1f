"""Smoke test of the benchmark itself, at a tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric is printed with its unit, in traced and
untraced runs of each workload, and that a wrong expectation fails
every checked operation (error rate 1). Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import E2E_UNITS, LAYER_UNITS  # noqa: E402

STREAM_LAYERS = {
    "pipeline.triggers",
    "pipeline.trigger_p50_s",
    "pipeline.trigger_p95_s",
    "pipeline.add_batch_s",
    "pipeline.planning_s",
    "pipeline.wal_commit_s",
    "pipeline.commit_offsets_s",
    "pipeline.driver_overhead_s",
    "pipeline.rows_per_trigger",
    "source.lag_s",
    "source.latest_offset_s",
    "source.dropped_rows",
    "stateful.state_rows",
    "stateful.state_bytes",
    "stateful.update_s",
    "stateful.commit_s",
    "iforest.fit_ms",
    "iforest.score_ms",
    "iforest.share",
    "sinks.rows_out",
    "trace.accounted_share",
}
WORKLOAD_LAYERS = {
    "stream_ref": STREAM_LAYERS | {"sinks.stop_s", "outlier.samples"},
    "stream_replay": STREAM_LAYERS
    | {
        "source.parse_rows_per_s",
        "stateful.window_rows_per_s",
        "stream_replay.rows_per_s_1core",
        "stream_replay.rows_per_s_4core",
    },
    "batch_queries": {"batch.headline_pass_s", "batch.heavy_pass_s", "operators.relational.q_topk_s"}
    | {
        f"operators.relational.{k}"
        for k in ("jobs", "stages", "executor_run_s", "python_rows", "shuffle_mb", "spill_mb", "driver_gap_s")
    },
}


def bench(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "3", "--trace", str(trace), "--smoke", *extra]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600, cwd=os.path.dirname(HERE))
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    layers = [json.loads(l[len("LAYERS "):]) for l in lines if l.startswith("LAYERS ")]
    return json.loads(lines[-1]), (layers[0] if layers else {})


def assert_units(metrics: dict, units: dict) -> None:
    assert set(metrics) == set(units)
    for name, m in metrics.items():
        assert m["unit"] == units[name], name
        assert isinstance(m["value"], float), name


@pytest.mark.parametrize("workload", sorted(WORKLOAD_LAYERS))
def test_traced_run_prints_every_metric(workload):
    result, layers = bench(workload, 1)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert_units(result["metrics"], LAYER_UNITS)
    missing = WORKLOAD_LAYERS[workload] - set(layers)
    assert not missing, missing
    assert all(m["unit"] for m in layers.values())


@pytest.mark.parametrize("workload", ["stream_replay", "batch_queries"])
def test_wrong_expected_digest_fails_every_operation(workload):
    result, _ = bench(workload, 0, "--expect-digest", "0" * 64)
    assert_units(result["metrics"], E2E_UNITS)
    assert result["correct"] is False
    assert result["attempted"] >= 1
    assert result["failed"] == result["attempted"]  # error rate 1

