"""Kafka source wrappers (SURVEY §2.1 ops 1-3).

The reference consumes Kafka with a receiver-less direct stream over a
comma-separated topic list, starting from the earliest offset, decoding both
key and value as UTF-8 and discarding the key
(``RawDataIngestion.java:80-110``). Structured Streaming's Kafka source is
the idiomatic equivalent: one Kafka partition still maps to one Spark
partition, multi-topic subscribe is native (``subscribe`` takes the same
comma-separated list — the reference's source-level union, op 2), and
``startingOffsets=earliest`` matches ``auto.offset.reset=smallest``
(``RawDataIngestion.java:97``).

No broker exists in the test environment, so the real-connector builders
are exercised only for plan construction. The CONTRACT, however, is fully
executable: ``kafka_sim`` (see ``kafka_sim.py``) is a Python-DataSource
simulation of the connector — identical output schema, multi-topic
subscribe, per-topic-partition parallelism, checkpoint-resumable offsets —
and ``kafka_sim_value_stream`` / ``kafka_sim_value_batch`` below apply the
exact same value projection to it, so ops 1-3 run end-to-end in tests
(``tests/test_kafka_sim.py``). ``message_file_stream`` remains the minimal
file stand-in used by the older streaming tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def kafka_value_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "earliest",
    min_partitions: int | None = None,
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming scan of ``topics`` (comma-separated, op 2) projected to the
    UTF-8 message value (op 3: drop key, keep value)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
    )
    if min_partitions:
        # At 100 TB/day a topic's partition count may lag the cluster size;
        # minPartitions lets Spark split Kafka partitions for parallelism.
        reader = reader.option("minPartitions", str(min_partitions))
    if max_offsets_per_trigger:
        # Backpressure: caps records per micro-batch so a backlog replay
        # (startingOffsets=earliest after downtime) cannot produce an
        # unbounded first batch — the knob that keeps batch time under the
        # trigger interval, the reference's implied SLO (BASELINE.md).
        reader = reader.option(
            "maxOffsetsPerTrigger", str(max_offsets_per_trigger)
        )
    return reader.load().select(F.col("value").cast("string").alias("value"))


def kafka_value_batch(
    spark: SparkSession, bootstrap_servers: str, topics: str
) -> DataFrame:
    """Batch twin of the streaming scan (backfills, reprocessing)."""
    return (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", "earliest")
        .option("endingOffsets", "latest")
        .load()
        .select(F.col("value").cast("string").alias("value"))
    )


def kafka_sim_value_stream(
    spark: SparkSession,
    log_dir: str,
    topics: str,
    max_records_per_batch: int | None = None,
    group_id: str | None = None,
) -> DataFrame:
    """Op 1-3 over the simulated broker: direct-stream scan of ``topics``
    (comma-separated) projected to the UTF-8 value — byte-for-byte the same
    downstream DataFrame as ``kafka_value_stream`` against a real broker."""
    from . import kafka_sim

    kafka_sim.register(spark)
    reader = (
        spark.readStream.format(kafka_sim.SOURCE_NAME)
        .option("path", log_dir)
        .option("subscribe", topics)
    )
    if max_records_per_batch is not None:
        # Backpressure twin of maxOffsetsPerTrigger (see kafka_sim).
        # `is not None`, not truthiness: a 0 must reach the source and
        # raise its ValueError, not be silently dropped to "unlimited".
        reader = reader.option("maxRecordsPerBatch", str(max_records_per_batch))
    if group_id is not None:
        # The `kafka.group.id` analogue. Like the real source, the sim
        # keeps offsets and pacing in the checkpoint, so the group scopes
        # nothing (see kafka_sim module docstring).
        reader = reader.option("groupId", group_id)
    return reader.load().select(F.col("value").cast("string").alias("value"))


def kafka_sim_value_batch(
    spark: SparkSession, log_dir: str, topics: str
) -> DataFrame:
    """Batch twin of the simulated direct stream (earliest→latest)."""
    from . import kafka_sim

    kafka_sim.register(spark)
    return (
        spark.read.format(kafka_sim.SOURCE_NAME)
        .option("path", log_dir)
        .option("subscribe", topics)
        .load()
        .select(F.col("value").cast("string").alias("value"))
    )


def message_file_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stand-in for Kafka used by the streaming tests: each text
    line is one message value (schema identical to the Kafka projection)."""
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(path)
        .select(F.col("value").cast("string").alias("value"))
    )
