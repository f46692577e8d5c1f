"""Video-gate ladder: per-batch admission cost vs seen-frame index size.

Per tier V (indexed videos ≈ 3·V frames): build_video_index over V
synthetic Motion-JPEG videos (the q_video_* fixture generator — REAL
AVI/MOV containers with real DC-only JPEG frames), then time the
admission decision — ``video_neardup_admit`` of a FIXED 50-video batch
against the persisted index — interleaved min-of-3 across tiers (the
stress.py stall-dodging discipline). Expectation: flat-ish per-batch
cost dominated by the batch's decode + the bk IN-list-pruned index
probe, NOT by index size.

Usage: python tools/video_gate_ladder.py [batch_videos]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

TIERS = (100, 1_000, 10_000)


def _videos(spark, n, start=0):
    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        _synth_doc_videos,
    )

    return _synth_doc_videos(
        spark.range(start, start + n).selectExpr("id AS doc_id")
    )


def main() -> None:
    from pyspark.sql import functions as F  # noqa: F401

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        build_video_index,
        video_neardup_admit,
    )
    from real_time_data_anomaly_detection_spark.session import get_spark

    batch_n = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    spark = get_spark(app_name="video_gate_ladder", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="video_gate_ladder_")
    try:
        # disjoint id range so the batch is mostly-novel at every tier
        batch = _videos(spark, batch_n, start=10_000_000).localCheckpoint()
        idx_paths = {}
        frames = {}
        for v in TIERS:
            p = os.path.join(tmp, f"idx_{v}")
            t0 = time.time()
            build_video_index(
                _videos(spark, v), p, "payload", "doc_id",
                hash_w=8, hash_h=7, n_bands=4,
            )
            build_s = time.time() - t0
            idx_paths[v] = p
            nf = spark.read.parquet(p + "/seed").select(
                "doc_id", "frame_idx"
            ).distinct().count()
            frames[v] = (nf, build_s)
        results: dict[int, list[float]] = {}
        for _ in range(4):  # first pass warms; min-of-3 over the rest
            for v in TIERS:
                idx = spark.read.parquet(idx_paths[v] + "/seed")
                t0 = time.time()
                video_neardup_admit(
                    idx, batch, "payload", "doc_id",
                    max_hamming=3, min_frac=0.5, hash_w=8, hash_h=7,
                    n_bands=4,
                ).write.format("noop").mode("overwrite").save()
                results.setdefault(v, []).append(time.time() - t0)
        print(
            f"{'indexed videos':>14} {'indexed frames':>14} "
            f"{'index build':>12} {'per-batch admit':>18}"
        )
        for v in TIERS:
            nf, build_s = frames[v]
            t = min(results[v][1:])
            print(f"{v:>14} {nf:>14} {build_s:>11.2f}s {t:>17.2f}s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
