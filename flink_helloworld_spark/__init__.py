"""flink_helloworld_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query/data-processing capabilities of
the reference stream-processing repo (NobodyzHome/flink-helloworld, a Flink
1.11 DataStream tutorial codebase) on idiomatic Spark:

- DataFrame / Spark SQL for all relational, windowed, and join semantics
  (Catalyst handles optimization; we declare logical plans only).
- Structured Streaming for the unbounded-stream surface (watermarks,
  event-time windows, keyed-state operators via
  ``transformWithState``).
- LLM-data-pipeline operators (dedup, similarity search, multimodal
  columns, text analysis) designed for 100 TB scale: keyed state only,
  broadcastable dims, no driver-side collection.

Package layout:
    session     SparkSession builders tuned for scale (AQE, Arrow, shuffle)
    schemas     fixed StructType registry (reference domain/*.java POJOs)
    sources     batch table loaders + streaming generators/Kafka wrappers
    operators   batch/relational operator library (SURVEY.md §2 inventory)
    streaming   custom stateful operators (chain join, count windows, ...)
    functions   shared column-expression helpers (hashing, minhash, text)
    plans       explain/inspection helpers
"""

__version__ = "0.1.0"
