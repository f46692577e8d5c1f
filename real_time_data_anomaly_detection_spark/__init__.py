"""PySpark-native analytics engine.

A brand-new, idiomatic-Spark (DataFrame / SQL / Catalyst / Structured
Streaming) engine with the query and data-processing capabilities of the
reference system (Sulayam/Real-Time_Data_Anomaly_Detection — a Kafka →
Spark Structured Streaming → driver-side IsolationForest pipeline, see
reference app/app3_ML.py), extended with a full relational operator
surface and LLM-data-pipeline operators (dedup, similarity search, text
analysis), all designed for 100 TB-scale execution.

Layout:
    session      SparkSession builder (AQE on, sane shuffle partitions)
    io           parquet table loaders for the driver fixtures
    schemas      energy-stream StructType + plant feature map
    operators/   batch relational + LLM operators (query registry)
    functions/   reusable column-expression helpers (vector, text)
    streaming/   sources, time windows, stateful last-N, anomaly scoring
    plans/       explain/plan-assertion utilities

Importing the package installs ``_zipcache``: Python workers import it
whenever they unpickle an engine UDF, and from then on their per-task
``importlib.invalidate_caches()`` no longer re-reads ``pyspark.zip``.
"""

from real_time_data_anomaly_detection_spark import _zipcache

__version__ = "0.1.0"

_zipcache.install()
