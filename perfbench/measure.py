"""Measurement helpers that read the engine from outside.

- ``RssSampler``: peak resident memory of this process tree (driver
  Python, the JVM and its Python workers), polled from ``/proc``.
- ``read_event_log``: folds an uncompressed Spark event log into
  per-job, per-stage and per-task records.
- ``progress_split`` / ``state_metrics``: per-trigger numbers from
  ``StreamingQueryProgress`` dictionaries.
"""

from __future__ import annotations

import glob
import json
import os
import signal
import statistics
import threading
import time

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample (q in [0, 1])."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return float(statistics.median(values))


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as fh:
                stat = fh.read()
        except OSError:
            continue  # the process exited between glob and open
        # Field 2 (comm) may hold spaces; fields after the last ')' are fixed.
        rest = stat.rsplit(")", 1)[1].split()
        pid = int(path.split("/")[2])
        kids.setdefault(int(rest[1]), []).append(pid)
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE_KB
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Polls the summed RSS of this process and all its descendants."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kb(p) for p in [me, *descendants(me)])
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        self._sample()
        self._thread.start()

    def stop(self) -> None:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def reap_descendants(timeout_s: float = 20.0) -> None:
    """Wait for every child process to end; terminate stragglers."""
    deadline = time.time() + timeout_s
    sig = None
    while True:
        alive = descendants(os.getpid())
        if not alive:
            return
        if time.time() > deadline:
            if sig == signal.SIGKILL:
                return
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            deadline = time.time() + 5.0
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.1)


# --------------------------------------------------------------------------
# StreamingQueryProgress
# --------------------------------------------------------------------------

#: durationMs parts that together make up a trigger's triggerExecution.
DURATION_PARTS = (
    "addBatch",
    "commitOffsets",
    "getBatch",
    "latestOffset",
    "queryPlanning",
    "walCommit",
)


def progress_split(progs: list[dict]) -> dict[str, float]:
    """Per-trigger duration split, summed over ``progs``, in seconds."""
    out = {k: sum(p["durationMs"].get(k, 0) for p in progs) / 1000.0 for k in DURATION_PARTS}
    out["triggerExecution"] = sum(p["durationMs"].get("triggerExecution", 0) for p in progs) / 1000.0
    out["batchDuration"] = sum(p["batchDuration"] for p in progs) / 1000.0
    return out


def state_metrics(progs: list[dict]) -> dict[str, float]:
    """State-store figures: last trigger's size, summed update/commit time."""
    ops = [op for p in progs for op in p.get("stateOperators", [])]
    last = progs[-1].get("stateOperators", []) if progs else []
    return {
        "state_rows": float(sum(op.get("numRowsTotal", 0) for op in last)),
        "state_bytes": float(sum(op.get("memoryUsedBytes", 0) for op in last)),
        "update_s": sum(op.get("allUpdatesTimeMs", 0) for op in ops) / 1000.0,
        "commit_s": sum(op.get("commitTimeMs", 0) for op in ops) / 1000.0,
    }


def progress_ts(p: dict) -> float:
    """Trigger start of a progress record, as epoch seconds."""
    from datetime import datetime

    return datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

_PYTHON_NODE_HINTS = ("Python", "Pandas", "Arrow")


def _python_row_metrics(plan: dict, out: set[int]) -> None:
    if any(h in plan.get("nodeName", "") for h in _PYTHON_NODE_HINTS):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _python_row_metrics(child, out)


def _event_lines(path: str):
    """Lines of a single-file log, or of a rolling log directory's
    ``events_<n>_*`` files in order."""
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        files = [os.path.join(path, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    else:
        files = [path]
    for f in files:
        with open(f) as fh:
            yield from fh


class EventLog:
    """Jobs, stages and task metrics read back from a Spark event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        python_accs: set[int] = set()
        task_accs: list[tuple[int, list]] = []
        for line in _event_lines(path):
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                self.jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "group": props.get("spark.jobGroup.id"),
                    "stages": list(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerJobEnd":
                self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = self._stage(info["Stage ID"])
                st["start"] = info.get("Submission Time", 0) / 1000.0
                st["end"] = info.get("Completion Time", 0) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = self._stage(ev["Stage ID"])
                tm = ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                st["tasks"] += 1
                st["run_ms"] += tm.get("Executor Run Time", 0)
                st["cpu_ns"] += tm.get("Executor CPU Time", 0)
                st["gc_ms"] += tm.get("JVM GC Time", 0)
                st["spill_b"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                st["shuffle_b"] += (
                    sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0)
                    + sw.get("Shuffle Bytes Written", 0)
                )
                task_accs.append(
                    (ev["Stage ID"], (ev.get("Task Info") or {}).get("Accumulables", []))
                )
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _python_row_metrics(ev.get("sparkPlanInfo") or {}, python_accs)
        for stage_id, accs in task_accs:
            st = self.stages[stage_id]
            for acc in accs:
                if int(acc.get("ID", -1)) in python_accs:
                    st["python_rows"] += int(acc.get("Update", 0) or 0)

    def _stage(self, stage_id: int) -> dict:
        return self.stages.setdefault(
            stage_id,
            {
                "start": 0.0,
                "end": 0.0,
                "tasks": 0,
                "run_ms": 0,
                "cpu_ns": 0,
                "gc_ms": 0,
                "spill_b": 0,
                "shuffle_b": 0,
                "python_rows": 0,
            },
        )

    def select_jobs(self, group=None, window=None) -> list[dict]:
        """Finished jobs of one job group and/or submitted inside a window."""
        out = []
        for job in self.jobs.values():
            if job["end"] is None:
                continue
            if group is not None and job["group"] != group:
                continue
            if window is not None and not (window[0] <= job["start"] < window[1]):
                continue
            out.append(job)
        return out

    def summarize(self, jobs: list[dict], wall_s: float) -> dict[str, float]:
        """Fold ``jobs`` into layer figures; ``wall_s`` is the driver's wall time."""
        stage_ids = {s for j in jobs for s in j["stages"] if s in self.stages}
        stages = [self.stages[s] for s in stage_ids if self.stages[s]["tasks"]]
        job_union = _union([(j["start"], j["end"]) for j in jobs])
        stage_union = _union([(s["start"], s["end"]) for s in stages if s["end"]])
        gap = max(wall_s - job_union, 0.0)
        return {
            "jobs": float(len(jobs)),
            "stages": float(len(stages)),
            "tasks": float(sum(s["tasks"] for s in stages)),
            "executor_run_s": sum(s["run_ms"] for s in stages) / 1000.0,
            "executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
            "gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
            "python_rows": float(sum(s["python_rows"] for s in stages)),
            "shuffle_mb": sum(s["shuffle_b"] for s in stages) / 2**20,
            "spill_mb": sum(s["spill_b"] for s in stages) / 2**20,
            "job_s": job_union,
            "stage_s": stage_union,
            "driver_gap_s": gap,
            "accounted_share": (stage_union + gap) / wall_s if wall_s > 0 else 0.0,
        }


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def read_event_log(log_dir: str) -> EventLog:
    """The single application log Spark wrote under ``log_dir``."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return EventLog(logs[0])
