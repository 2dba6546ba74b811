"""solar_logger_spark — a PySpark-native time-series analytics engine.

A from-scratch engine with the query and data-processing capabilities of
the WibblyGhost/Solar-Logger reference (MQTT → TSDB streaming ETL + a Flux
query-builder surface), re-expressed Spark-first:

* the Flux pipeline surface (``from |> range |> filter |> aggregateWindow
  |> sort``) becomes a fluent :class:`~solar_logger_spark.query.builder.
  QueryBuilder` that renders the pipeline as one Spark SQL pipe statement
  from the table scan up — Catalyst is the optimizer, parquet the store;
* the streaming ingest (binary packet decode → unpivot → status-gate →
  point sink) becomes Structured Streaming with pandas-UDF decoders;
* beyond the reference surface, large-scale training-data-pipeline
  operators: dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash),
  similarity search over embeddings, text analysis, multimodal binary
  plumbing.

Everything is designed for a multi-executor cluster at ~100 TB: built-in
JVM expressions in the hot path, map-side partial aggregation, broadcast
joins for small dims, partition discipline (measurement + date), AQE on.
"""

from solar_logger_spark.session import get_spark
from solar_logger_spark.durations import (
    duration_to_interval,
    epoch_seconds,
    epoch_us,
    parse_duration,
)
from solar_logger_spark.query.builder import QueryBuilder

__all__ = [
    "get_spark",
    "parse_duration",
    "duration_to_interval",
    "epoch_us",
    "epoch_seconds",
    "QueryBuilder",
]

__version__ = "0.1.0"
