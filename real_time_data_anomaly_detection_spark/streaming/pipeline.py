"""End-to-end streaming anomaly pipeline — the reference application
(reference app/app3_ML.py:409-419: ingest thread + detection thread +
UI polling a locked dict) as ONE Spark streaming graph.

    source (kafka | rate | file-replay)
      → stateful last-N window per plant_type
      → IsolationForest scoring, outlier emission
      → sink (memory table | parquet | kafka)

The memory-table sink is the queryable surface the reference's Dash UI
polled; `spark.sql(f"SELECT * FROM {table}")` replaces the dashboard's
locked snapshot reads (app/app3_ML.py:324-335).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from real_time_data_anomaly_detection_spark.streaming.stateful import last_n_window


def build_detection_stream(
    source: DataFrame,
    window_size: int = 500,
    min_rows: int = 50,
    contamination: float = 0.05,
    random_state: int = 42,
) -> DataFrame:
    """source rows → per-trigger outlier stream (reference parameters:
    window 500 / warm-up 50 / contamination 0.05 / seed 42,
    app/app3_ML.py:39,151,165)."""
    return last_n_window(
        source,
        n=window_size,
        emit="outliers",
        min_rows=min_rows,
        contamination=contamination,
        random_state=random_state,
    )


def run_detection_pipeline(
    spark: SparkSession,
    source: DataFrame,
    sink_table: str = "outliers",
    trigger: dict | None = None,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Start the full pipeline into a queryable memory table.

    The reference's implied end-to-end latency budget is 2-7 s
    (BASELINE.md). With a 1 s trigger at the reference's 1,000 ev/s
    (perfbench ``stream_ref``, 4-core x86 host, median of 10 runs),
    event-to-outlier latency is 2.5 s at p50 and 3.6 s at p95: a
    trigger still takes longer than its 1 s interval.
    """
    outliers = build_detection_stream(source)
    writer = (
        outliers.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append")
        .trigger(**(trigger or {"processingTime": "1 second"}))
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
