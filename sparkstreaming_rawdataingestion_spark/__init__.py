"""PySpark-native analytics engine with the query and data-processing
capabilities of MD2Korg/SparkStreaming-RawDataIngestion.

The reference (``/root/reference``) is a Spark 1.6 DStream job that consumes
Kafka messages of JSON-encoded sensor readings, flattens each message's
``data`` array into 5-column ``DataPoint`` rows, and upserts them into a
day-bucketed Cassandra table (``RawDataIngestion.java:53-169``).

This package re-expresses that pipeline — and the analytics surface such an
ingestion platform implies — Spark-first:

- ``session``      SparkSession factory (UTC pinned, AQE on)
- ``schemas``      explicit StructTypes for the message and DataPoint rows
- ``catalog``      loaders for the synthetic test tables
- ``sources``      Kafka / file sources + the Kafka-shaped fixture generator
- ``operators``    ingest normalization plus the relational, dedup,
                   similarity, text-analysis and multimodal operator packs
- ``functions``    scalar helpers with exact reference-parity semantics
- ``streaming``    Structured Streaming ingest (5 s trigger, checkpointed,
                   idempotent sink)
- ``plans``        explain()-based plan assertions (pushdown, broadcast)
"""

from ._archive_guard import install_archive_guard as _install_archive_guard

__version__ = "0.1.0"

# Reused Python workers import this package when they unpickle any engine
# function or the kafka_sim reader, so from then on their per-task
# invalidate_caches() skips unchanged archives (module note there).
_install_archive_guard()
