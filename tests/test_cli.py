"""CLI smoke: `list` needs no JVM; `query`/`sql`/`pipeline` are driven
in integration (they share the heavyweight session path tested
elsewhere)."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_cli_list():
    out = subprocess.run(
        [sys.executable, "-m", "real_time_data_anomaly_detection_spark", "list"],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=120,
    )
    assert out.returncode == 0
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    assert len(lines) >= 60
    assert any("q_agg_group" in ln and "oracle" in ln for ln in lines)


def test_cli_unknown_query_exit_code():
    out = subprocess.run(
        [
            sys.executable,
            "-m",
            "real_time_data_anomaly_detection_spark",
            "query",
            "q_nope",
        ],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=300,
    )
    assert out.returncode == 2
    assert "unknown query" in out.stderr
