"""Streaming sink lifecycle: graceful stop.

The reference's only "sink" is a foreachBatch collecting to driver
dicts (app/app3_ML.py:136-141) that a Dash UI polls; the detection
pipeline's memory-table sink (streaming/pipeline.py) is its queryable
replacement (SURVEY.md §3.3).
"""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQuery


def stop_gracefully(query: StreamingQuery, timeout_sec: float = 60.0) -> None:
    """Drain-then-stop: stop at a micro-batch boundary, so an in-flight
    state-store commit is (usually) not aborted the way a bare
    ``stop()`` mid-commit is.

    Two boundary signals, whichever comes first:
    - trigger goes idle (``isTriggerActive`` False) — the common case
      when the stream is keeping up with its trigger interval;
    - ``lastProgress.batchId`` advances — a batch just committed. Under
      sustained backlog (batch duration > trigger interval) the trigger
      is back-to-back and never observably idle, so waiting for idle
      alone just burns the whole timeout and then stops mid-batch;
      catching the commit instead stops in the inter-batch gap.

    The boundary → stop window is still a real race (the next trigger
    can start in between); an abort in that case is BENIGN — the
    uncommitted state-store version is discarded and the checkpoint
    stays consistent (exactly-once is per committed batch) — so
    executor ERROR logs are muted for the stop itself. The consistency
    claim is pinned by tests/test_stream_join_recovery.py::
    test_stop_under_load_sink_consistent.
    """
    import time

    deadline = time.time() + timeout_sec
    progress = query.lastProgress
    batch_at_entry = progress.get("batchId") if progress else None
    while time.time() < deadline:
        if not query.status.get("isTriggerActive", False):
            break
        progress = query.lastProgress
        if progress is not None:
            batch_now = progress.get("batchId")
            if batch_at_entry is None:
                batch_at_entry = batch_now
            elif batch_now is not None and batch_now > batch_at_entry:
                break
        time.sleep(0.005)
    sc = query._session.sparkContext if hasattr(query, "_session") else None
    try:
        if sc is not None:
            sc.setLogLevel("OFF")
        query.stop()
        query.awaitTermination(int(timeout_sec))
    finally:
        if sc is not None:
            sc.setLogLevel("WARN")
