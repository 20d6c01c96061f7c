"""streamy_db_spark — a PySpark-native analytics + deterministic-transaction engine.

Re-expresses the capabilities of the reference system (domsj/streamy-db, a
Calvin-style deterministic streaming transactional KV store — see SURVEY.md)
as an idiomatic Spark engine:

- ``engine_batch``   — deterministic batch replay of the transaction protocol
  (reference operators S1/S2/S3, flink/StreamyDb.scala:35-175).
- ``streaming``      — Structured Streaming parity via applyInPandasWithState.
- ``operators``      — the relational surface (SURVEY.md §2.6) plus
  training-data-pipeline operators (dedup, similarity search, text analysis,
  multimodal plumbing).
- ``sources``        — parquet star-schema loader and (gated) Kafka wiring.
"""

__version__ = "0.1.0"
