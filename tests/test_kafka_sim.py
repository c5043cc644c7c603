"""End-to-end tests for the simulated Kafka source (SURVEY §2.1 ops 1-3).

These certify the contract the env-blocked real connector could not:
multi-topic subscribe over a comma-separated list, the direct-stream
one-topic-partition→one-Spark-partition model, dense resumable offsets
(checkpoint restart = exactly-once with the PK-dedup sink), per-partition
backpressure, and the drop-key/keep-value projection feeding the same
ingest pipeline the driver's flagship runs (RawDataIngestion.java:80-110).
"""

from __future__ import annotations

import json

import pytest

from sparkstreaming_rawdataingestion_spark import catalog
from sparkstreaming_rawdataingestion_spark.operators import ingest
from sparkstreaming_rawdataingestion_spark.sources import fixtures, kafka, kafka_sim


def _produce_sample(log_dir: str) -> None:
    kafka_sim.produce(log_dir, "hr-stream", [f"hr-{i}" for i in range(7)], 0)
    kafka_sim.produce(log_dir, "hr-stream", [f"hr-p1-{i}" for i in range(5)], 1)
    kafka_sim.produce(log_dir, "gps-stream", [f"gps-{i}" for i in range(4)], 0)


def test_batch_multi_topic_subscribe_schema_and_offsets(spark, tmp_path):
    log = str(tmp_path / "log")
    _produce_sample(log)
    kafka_sim.register(spark)
    df = (
        spark.read.format(kafka_sim.SOURCE_NAME)
        .option("path", log)
        .option("subscribe", "hr-stream,gps-stream")
        .load()
    )
    # Contract: identical to the real connector's output columns.
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("key", "binary"),
        ("value", "binary"),
        ("topic", "string"),
        ("partition", "int"),
        ("offset", "bigint"),
        ("timestamp", "timestamp"),
        ("timestampType", "int"),
    ]
    rows = df.collect()
    assert len(rows) == 16
    # Offsets are dense and 0-based within each topic-partition.
    by_tp: dict[tuple, list[int]] = {}
    for r in rows:
        by_tp.setdefault((r["topic"], r["partition"]), []).append(r["offset"])
    assert {tp: sorted(o) for tp, o in by_tp.items()} == {
        ("hr-stream", 0): list(range(7)),
        ("hr-stream", 1): list(range(5)),
        ("gps-stream", 0): list(range(4)),
    }
    # Subscribe is a filter, not a union-all-topics (op 2).
    only_gps = (
        spark.read.format(kafka_sim.SOURCE_NAME)
        .option("path", log)
        .option("subscribe", "gps-stream")
        .load()
    )
    assert only_gps.select("topic").distinct().collect()[0][0] == "gps-stream"


def test_direct_partition_model(spark, tmp_path):
    """One topic-partition log → one Spark partition (the reference's
    receiver-less direct-stream property, RawDataIngestion.java:100)."""
    log = str(tmp_path / "log")
    _produce_sample(log)
    kafka_sim.register(spark)
    df = (
        spark.read.format(kafka_sim.SOURCE_NAME)
        .option("path", log)
        .option("subscribe", "hr-stream,gps-stream")
        .load()
    )
    parts = df.rdd.glom().map(len).collect()
    assert sorted(p for p in parts if p) == [4, 5, 7]


def test_value_projection_feeds_ingest_pipeline(spark, sf_dir, tmp_path):
    """ops 1→3→10 end-to-end: fixture messages produced to the simulated
    broker, consumed via the batch twin, normalized — equals normalizing
    the fixture messages directly."""
    log = str(tmp_path / "log")
    messages = fixtures.events_to_messages(
        catalog.load_table(spark, sf_dir, "events"), include_edge_cases=False
    )
    values = [r["value"] for r in messages.collect()]
    # spread across 2 partitions like a keyed producer would
    kafka_sim.produce(log, "datapoints", values[0::2], 0)
    kafka_sim.produce(log, "datapoints", values[1::2], 1)

    consumed = kafka.kafka_sim_value_batch(spark, log, "datapoints")
    got = ingest.ingest_normalize(consumed)
    want = ingest.ingest_normalize(messages)
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def _drain_stream(spark, log, topic, checkpoint, out_rows, cap=None):
    """Run the simulated direct stream to exhaustion (availableNow) and
    append each micro-batch's values into out_rows; returns batch sizes."""
    sizes = []

    def sink(batch_df, _bid):
        vals = [r["value"] for r in batch_df.collect()]
        if vals:
            sizes.append(len(vals))
            out_rows.extend(vals)

    q = (
        kafka.kafka_sim_value_stream(
            spark, log, topic, max_records_per_batch=cap
        )
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "availableNow drain timed out"
    finally:
        q.stop()
    return sizes


def test_stream_equals_batch(spark, tmp_path):
    log = str(tmp_path / "log")
    _produce_sample(log)
    got: list[str] = []
    _drain_stream(spark, log, "hr-stream,gps-stream", str(tmp_path / "ckpt"), got)
    batch = [
        r["value"]
        for r in kafka.kafka_sim_value_batch(
            spark, log, "hr-stream,gps-stream"
        ).collect()
    ]
    assert sorted(got) == sorted(batch)


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Stop after draining, produce more, restart from the SAME checkpoint:
    the second run reads only the new offsets — no loss, no redelivery."""
    log = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    kafka_sim.produce(log, "hr-stream", [f"a-{i}" for i in range(6)], 0)

    first: list[str] = []
    _drain_stream(spark, log, "hr-stream", ckpt, first)
    assert sorted(first) == [f"a-{i}" for i in range(6)]

    # new records + a whole NEW partition appearing after the checkpoint
    kafka_sim.produce(log, "hr-stream", [f"b-{i}" for i in range(3)], 0)
    kafka_sim.produce(log, "hr-stream", ["c-0", "c-1"], 1)

    second: list[str] = []
    _drain_stream(spark, log, "hr-stream", ckpt, second)
    assert sorted(second) == ["b-0", "b-1", "b-2", "c-0", "c-1"]


def test_max_records_per_batch_backpressure(spark, tmp_path):
    """The replay-bounding knob: draining a 12-record backlog with a
    per-partition cap of 5 takes ceil(12/5)=3 micro-batches, none larger
    than the cap (single-partition topic ⇒ cap == batch bound). Uses a
    polling trigger: under availableNow the engine freezes its target at
    the FIRST (capped) latestOffset, so the cap would also cap the drain —
    exactly how a rate-limited real source behaves when its limit API
    isn't consulted, and why the cap is a processing-trigger knob."""
    import time

    log = str(tmp_path / "log")
    kafka_sim.produce(log, "hr-stream", [f"m-{i}" for i in range(12)], 0)
    sizes: list[int] = []
    got: list[str] = []

    def sink(batch_df, _bid):
        vals = [r["value"] for r in batch_df.collect()]
        if vals:
            sizes.append(len(vals))
            got.extend(vals)

    q = (
        kafka.kafka_sim_value_stream(spark, log, "hr-stream", max_records_per_batch=5)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while len(got) < 12 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    assert sizes == [5, 5, 2]
    assert sorted(got) == sorted(f"m-{i}" for i in range(12))


def test_missing_subscribe_rejected(spark, tmp_path):
    kafka_sim.register(spark)
    with pytest.raises(Exception, match="subscribe"):
        (
            spark.read.format(kafka_sim.SOURCE_NAME)
            .option("path", str(tmp_path))
            .load()
            .collect()
        )


def test_key_preserved_until_projected(spark, tmp_path):
    """The raw source keeps the key (binary); the value projection drops
    it — the reference's explicit op 3."""
    log = str(tmp_path / "log")
    kafka_sim.produce(log, "hr-stream", ["v0"], 0, key="user-42")
    kafka_sim.register(spark)
    raw = (
        spark.read.format(kafka_sim.SOURCE_NAME)
        .option("path", log)
        .option("subscribe", "hr-stream")
        .load()
        .collect()
    )
    assert raw[0]["key"] == bytearray(b"user-42")
    projected = kafka.kafka_sim_value_batch(spark, log, "hr-stream")
    assert projected.columns == ["value"]
    assert projected.collect()[0]["value"] == "v0"


def test_reference_job_end_to_end_over_sim_broker(spark, sf_dir, tmp_path):
    """The COMPLETE reference job (RawDataIngestion.java:80-165) with no
    stand-ins left: Kafka-shaped broker → direct stream → drop-key/keep-
    value → lenient parse → explode → normalize → day-partitioned
    idempotent sink — run, stopped, extended with late messages, and
    restarted from the checkpoint. Final sink contents must equal one
    batch normalize over ALL messages, exactly once."""
    from pyspark.sql import functions as F

    from sparkstreaming_rawdataingestion_spark.streaming import ingest_stream

    log = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    messages = fixtures.events_to_messages(
        catalog.load_table(spark, sf_dir, "events"), include_edge_cases=True
    )
    values = [r["value"] for r in messages.collect()]
    half = len(values) // 2
    kafka_sim.produce(log, "datapoints", values[:half], 0)

    def run_once():
        q = ingest_stream.start_ingest_file_sink(
            kafka.kafka_sim_value_stream(spark, log, "datapoints"),
            sink_path=sink,
            checkpoint_path=ckpt,
            trigger_seconds=None,  # availableNow: drain and stop
        )
        try:
            assert q.awaitTermination(120), "ingest drain timed out"
        finally:
            q.stop()

    run_once()
    # late traffic lands on a second partition (scale-out mid-job)
    kafka_sim.produce(log, "datapoints", values[half:], 1)
    run_once()

    got = spark.read.parquet(sink)
    want = ingest.ingest_normalize(messages)
    assert sorted(got.columns) == sorted(want.columns)
    cols = sorted(want.columns)
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )
    # the sink really is day-bucketed (op 11's partition layout)
    days = [
        r[0] for r in got.select(F.col("day")).distinct().collect()
    ]
    assert len(days) > 1


def test_malformed_values_flow_to_lenient_parse(spark, tmp_path):
    """A corrupt payload on the wire must die in the PERMISSIVE parse
    (op 4), not in the source: produce garbage next to a good message and
    assert the pipeline yields exactly the good rows."""
    log = str(tmp_path / "log")
    good = json.dumps(
        {
            "datastream_id": 9,
            "data": [{"dateTime": 1704067200000, "offset": 0, "sample": {"hr": 60}}],
        }
    )
    kafka_sim.produce(log, "datapoints", ["{not json", good, '{"data": []}'], 0)
    out = ingest.ingest_normalize(
        kafka.kafka_sim_value_batch(spark, log, "datapoints")
    ).collect()
    assert len(out) == 1 and out[0]["datastream_id"] == 9


def test_nonpositive_cap_rejected():
    """maxRecordsPerBatch=0 would plan base+0 = base forever (a silently
    stalled stream); the reader must refuse it loudly instead — and the
    wrapper must pass 0 THROUGH (``is not None``, not truthiness) so the
    refusal actually fires."""
    for bad in ("0", "-3"):
        with pytest.raises(ValueError, match="positive"):
            kafka_sim.KafkaSimStreamReader(
                {"path": "/tmp/x", "subscribe": "t", "maxRecordsPerBatch": bad}
            )


def test_strict_log_name_filtering(spark, tmp_path):
    """Editor temps, zero-padded shadows, and stray files in a topic dir
    are invisible to both readers — batch and stream can never disagree
    about what the log contains."""
    import os

    log = str(tmp_path / "log")
    kafka_sim.produce(log, "hr-stream", ["v0", "v1"], 0)
    tdir = os.path.join(log, "hr-stream")
    # p01.jsonl would shadow p1.jsonl's partition id as int('01') == 1
    for junk in ("p01.jsonl", "p0.jsonl.tmp", "notes.txt", "p-1.jsonl"):
        with open(os.path.join(tdir, junk), "w", encoding="utf-8") as f:
            f.write(json.dumps({"key": None, "value": "JUNK", "ts": 0}) + "\n")
    batch = kafka.kafka_sim_value_batch(spark, log, "hr-stream").collect()
    assert sorted(r["value"] for r in batch) == ["v0", "v1"]
    got: list[str] = []
    _drain_stream(spark, log, "hr-stream", str(tmp_path / "ckpt"), got)
    assert sorted(got) == ["v0", "v1"]


def test_capped_restart_resumes_at_frontier_not_zero(spark, tmp_path):
    """The round's restart-redelivery fix: an uncapped drain commits
    frontier 6 to the checkpoint; a LATER capped restart constructs a
    fresh reader whose pacing base must be the committed frontier (6),
    which the engine hands it through partitions(), not 0 — otherwise
    latestOffset plans an end BELOW the committed frontier and the
    stream moves backwards. Assert the capped run delivers only new
    records, within the cap, and a final uncapped run drains the
    remainder exactly once."""
    log = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    kafka_sim.produce(log, "hr-stream", [f"m-{i}" for i in range(6)], 0)

    first: list[str] = []
    _drain_stream(spark, log, "hr-stream", ckpt, first)  # uncapped
    assert sorted(first) == [f"m-{i}" for i in range(6)]

    kafka_sim.produce(log, "hr-stream", [f"n-{i}" for i in range(4)], 0)
    second: list[str] = []
    sizes = _drain_stream(spark, log, "hr-stream", ckpt, second, cap=2)
    # availableNow freezes the target at the first latestOffset: base 6
    # (the committed frontier) + cap 2 = 8 → exactly the first two new records,
    # no redelivery of m-*, never a batch above the cap.
    assert second == ["n-0", "n-1"]
    assert all(s <= 2 for s in sizes)

    third: list[str] = []
    _drain_stream(spark, log, "hr-stream", ckpt, third)  # uncapped
    assert sorted(third) == ["n-2", "n-3"]


def test_count_cache_sees_appends(tmp_path):
    """The latestOffset poll cache keys on (size, mtime_ns); an append
    must invalidate it so new records are discovered next trigger."""
    log = str(tmp_path / "log")
    kafka_sim.produce(log, "hr-stream", ["a", "b"], 0)
    fpath = str(tmp_path / "log" / "hr-stream" / "p0.jsonl")
    assert kafka_sim._count_records(fpath) == 2
    assert kafka_sim._count_records(fpath) == 2  # cached path
    kafka_sim.produce(log, "hr-stream", ["c"], 0)
    assert kafka_sim._count_records(fpath) == 3


def test_distinct_groups_pace_independently(spark, tmp_path):
    """Two capped consumers with distinct groupIds over ONE log dir keep
    separate pacing bases — consumer B starts from offset 0 even after
    consumer A has drained ahead (a base shared through the log dir
    would hand B A's frontier and skip the early records)."""

    def drain(group, ckpt, cap):
        got: list[str] = []

        def sink(batch_df, _bid):
            got.extend(r["value"] for r in batch_df.collect())

        q = (
            kafka.kafka_sim_value_stream(
                spark,
                str(tmp_path / "log"),
                "hr-stream",
                max_records_per_batch=cap,
                group_id=group,
            )
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(120), "drain timed out"
        finally:
            q.stop()
        return got

    kafka_sim.produce(
        str(tmp_path / "log"), "hr-stream", [f"m-{i}" for i in range(8)], 0
    )
    # availableNow freezes each run's target at its first latestOffset:
    # base (per group) + cap.
    assert drain("group-a", "ckpt-a", 3) == ["m-0", "m-1", "m-2"]
    assert drain("group-b", "ckpt-b", 5) == [f"m-{i}" for i in range(5)]
    # group A resumes from ITS frontier (3), untouched by group B's run
    assert drain("group-a", "ckpt-a", 3) == ["m-3", "m-4", "m-5"]


def test_batch_offset_ranges(spark, tmp_path):
    """startingOffsets / endingOffsets on the batch reader: the real
    connector's grammar — earliest/latest defaults, per-partition JSON,
    and Kafka's -2 (earliest) / -1 (latest) sentinels for unlisted or
    sentinel-valued partitions."""
    log = str(tmp_path / "log")
    kafka_sim.produce(log, "hr-stream", [f"m-{i}" for i in range(6)], 0)
    kafka_sim.produce(log, "hr-stream", [f"p1-{i}" for i in range(3)], 1)
    kafka_sim.register(spark)

    def read(**opts):
        r = (
            spark.read.format(kafka_sim.SOURCE_NAME)
            .option("path", log)
            .option("subscribe", "hr-stream")
        )
        for k, v in opts.items():
            r = r.option(k, v)
        return sorted(x["value"].decode() for x in r.load().collect())

    # JSON range on p0; p1 defaults to full range (-2 start, -1 end)
    assert read(
        startingOffsets='{"hr-stream": {"0": 2}}',
        endingOffsets='{"hr-stream": {"0": 5}}',
    ) == ["m-2", "m-3", "m-4", "p1-0", "p1-1", "p1-2"]
    # legal sentinel (-2 start = earliest) + clamping past the log end
    assert read(
        startingOffsets='{"hr-stream": {"0": -2, "1": 1}}',
        endingOffsets='{"hr-stream": {"0": 99}}',
    ) == ["m-0", "m-1", "m-2", "m-3", "m-4", "m-5", "p1-1", "p1-2"]
    # batch rejects the connector-invalid sentinels even in JSON form
    with pytest.raises(Exception, match="not allowed in batch starting"):
        read(startingOffsets='{"hr-stream": {"0": -1}}')
    with pytest.raises(Exception, match="not allowed in batch ending"):
        read(endingOffsets='{"hr-stream": {"1": -2}}')
    # a typo'd topic or unknown partition must fail loudly, not silently
    # fall back to earliest/latest
    with pytest.raises(Exception, match="not in the subscription"):
        read(startingOffsets='{"hr-strean": {"0": 1}}')
    with pytest.raises(Exception, match="not in the subscription"):
        read(endingOffsets='{"hr-stream": {"9": 1}}')
    with pytest.raises(Exception, match="offsets option"):
        read(startingOffsets="bogus")


def test_stream_starting_offsets_latest_tails_only(spark, tmp_path):
    """startingOffsets=latest on a FRESH checkpoint: the backlog is
    skipped (the tail-only monitoring pattern); records produced after
    the first run arrive on restart — and a capped tail stream paces
    FORWARD from the latest frontier, never below it."""
    log = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    kafka_sim.produce(log, "hr-stream", [f"old-{i}" for i in range(5)], 0)

    def drain(cap=None):
        got: list[str] = []

        def sink(batch_df, _bid):
            got.extend(r["value"].decode() for r in batch_df.collect())

        kafka_sim.register(spark)
        reader = (
            spark.readStream.format(kafka_sim.SOURCE_NAME)
            .option("path", log)
            .option("subscribe", "hr-stream")
            .option("startingOffsets", "latest")
        )
        if cap is not None:
            reader = reader.option("maxRecordsPerBatch", str(cap))
        q = (
            reader.load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(120), "drain timed out"
        finally:
            q.stop()
        return got

    assert drain(cap=3) == []  # fresh: backlog of 5 skipped, cap paces from 5
    kafka_sim.produce(log, "hr-stream", ["new-0", "new-1"], 0)
    assert drain() == ["new-0", "new-1"]  # checkpoint now owns offsets


def test_fail_on_data_loss(spark, tmp_path):
    """failOnDataLoss contract: a committed frontier the log can no
    longer serve (truncation = retention eviction) kills the query by
    default; failOnDataLoss=false continues, resuming once the log
    grows past the committed offset — no phantom redelivery of the
    evicted range."""
    import os

    log = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    kafka_sim.produce(log, "hr-stream", [f"m-{i}" for i in range(6)], 0)
    first: list[str] = []
    _drain_stream(spark, log, "hr-stream", ckpt, first)
    assert len(first) == 6

    # truncate the log below the committed frontier (6 -> 2 records)
    fpath = os.path.join(log, "hr-stream", "p0.jsonl")
    with open(fpath, encoding="utf-8") as f:
        lines = f.readlines()
    with open(fpath, "w", encoding="utf-8") as f:
        f.writelines(lines[:2])

    def restart(**opts):
        got: list[str] = []

        def sink(batch_df, _bid):
            got.extend(r["value"] for r in batch_df.collect())

        kafka_sim.register(spark)
        reader = (
            spark.readStream.format(kafka_sim.SOURCE_NAME)
            .option("path", log)
            .option("subscribe", "hr-stream")
        )
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load()
            .selectExpr("CAST(value AS STRING) AS value")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        return got

    # grow the log again so a batch gets planned, but offsets 2-5 are gone
    kafka_sim.produce(log, "hr-stream", ["after-0"], 0)  # count 3 < committed 6
    kafka_sim.produce(log, "hr-stream", ["after-1", "after-2", "after-3", "after-4"], 0)
    # count now 7 > committed 6 — the delta [6, 7) is plannable, but the
    # checker sees lo(6) <= count(7): range [6,7) serves 'after-4'... the
    # loss happened BEHIND the frontier, which offset-based resume cannot
    # observe — exactly Kafka's semantics (only out-of-range offsets are
    # detectable loss).
    got = restart()
    assert got == ["after-4"]

    # now truncate BELOW the frontier and let the engine plan a replay:
    # committed 7, log cut to 1 record, then grown to 2 — latest (2) stays
    # below the frontier, so no loss is even plannable; cut + checkpointed
    # uncommitted range is covered by the unit test below.
    with open(fpath, "w", encoding="utf-8") as f:
        f.writelines(lines[:1])
    got = restart(failOnDataLoss="false")
    assert got == []  # nothing plannable, no crash with the guard off


def test_data_loss_detection_unit(tmp_path):
    """partitions() itself enforces the contract (unit level, so the
    vanished-topic and truncated-log branches are both exercised
    deterministically)."""
    log = str(tmp_path / "log")
    kafka_sim.produce(log, "hr-stream", ["a", "b"], 0)

    def reader(**extra):
        return kafka_sim.KafkaSimStreamReader(
            {"path": log, "subscribe": "hr-stream", **extra}
        )

    # truncation: committed range starts past the 2-record log
    with pytest.raises(ValueError, match="data loss"):
        reader().partitions({"hr-stream:0": 5}, {"hr-stream:0": 7})
    assert (
        reader(failOnDataLoss="false").partitions(
            {"hr-stream:0": 5}, {"hr-stream:0": 7}
        )
        == []
    )
    # vanished partition: checkpointed range for a log that's gone
    with pytest.raises(ValueError, match="no longer exists"):
        reader().partitions({"hr-stream:9": 0}, {"hr-stream:9": 3})
    assert (
        reader(failOnDataLoss="false").partitions(
            {"hr-stream:9": 0}, {"hr-stream:9": 3}
        )
        == []
    )
    # truncation INSIDE a checkpointed range (lo <= count < hi): the real
    # connector raises offset-out-of-range for ANY unreadable part of a
    # planned range — [0, 7) over a 2-record log must not silently read
    # [0, 2) and drop the tail when failOnDataLoss is on
    with pytest.raises(ValueError, match="data loss"):
        reader().partitions({"hr-stream:0": 0}, {"hr-stream:0": 7})
    # guard off: the slice clamps to the readable prefix [0, 2)
    clamped = reader(failOnDataLoss="false").partitions(
        {"hr-stream:0": 0}, {"hr-stream:0": 7}
    )
    assert [(s.start, s.end) for s in clamped] == [(0, 2)]


def test_corrupt_log_line_error_names_coordinates(tmp_path):
    """A malformed/hand-edited log line surfaces as a ValueError naming
    topic, partition and offset — not a bare KeyError from the Python
    worker (the sim is a test transport; its errors are what tests see)."""
    import os

    log = str(tmp_path / "log")
    kafka_sim.produce(log, "hr-stream", ["good-0", "good-1"], 0)
    fpath = os.path.join(log, "hr-stream", "p0.jsonl")
    with open(fpath, "a", encoding="utf-8") as f:
        f.write('{"ts": 123}\n')  # missing 'value'
        f.write("not json at all\n")
        f.write('{"value": 7, "ts": 1}\n')  # non-string value

    def rows(start, end):
        return list(kafka_sim._read_slice("hr-stream", 0, fpath, start, end))

    assert len(rows(0, 2)) == 2  # the good prefix still reads cleanly
    for offset in (2, 3, 4):
        with pytest.raises(ValueError, match=f"hr-stream-0 offset {offset}"):
            rows(offset, offset + 1)


def test_subscribe_pattern_and_assign(spark, tmp_path):
    """The other two legs of the selection grammar: subscribePattern
    (topic regex — discovers topics from the broker, never the
    _consumer_offsets metadata dir) and assign (explicit partitions);
    exactly one selection option is required."""
    log = str(tmp_path / "log")
    kafka_sim.produce(log, "hr-stream", ["h0"], 0)
    kafka_sim.produce(log, "hr-stream", ["h1"], 1)
    kafka_sim.produce(log, "gps-stream", ["g0"], 0)
    kafka_sim.produce(log, "audit", ["a0"], 0)
    # a groupId sidecar must never be discovered as a topic
    import os

    os.makedirs(os.path.join(log, "_consumer_offsets"), exist_ok=True)
    kafka_sim.register(spark)

    def read(**opts):
        r = spark.read.format(kafka_sim.SOURCE_NAME).option("path", log)
        for k, v in opts.items():
            r = r.option(k, v)
        return sorted(x["value"].decode() for x in r.load().collect())

    assert read(subscribePattern=".*-stream") == ["g0", "h0", "h1"]
    assert read(subscribePattern=".*") == ["a0", "g0", "h0", "h1"]
    assert read(assign='{"hr-stream": [1]}') == ["h1"]
    assert read(assign='{"hr-stream": [0, 1], "audit": [0]}') == [
        "a0",
        "h0",
        "h1",
    ]
    with pytest.raises(Exception, match="exactly one"):
        read()
    with pytest.raises(Exception, match="exactly one"):
        read(subscribe="audit", subscribePattern=".*")
    with pytest.raises(Exception, match="assign must be"):
        read(assign="not json")


def test_min_partitions_splits_ranges(spark, tmp_path):
    """minPartitions: one fat topic-partition fans out into N Spark
    tasks by halving the widest offset range; the union of the split
    ranges is exactly the original data."""
    log = str(tmp_path / "log")
    kafka_sim.produce(log, "hr-stream", [f"m-{i}" for i in range(16)], 0)
    kafka_sim.register(spark)
    df = (
        spark.read.format(kafka_sim.SOURCE_NAME)
        .option("path", log)
        .option("subscribe", "hr-stream")
        .option("minPartitions", "4")
        .load()
    )
    parts = df.rdd.glom().map(len).collect()
    assert sorted(p for p in parts if p) == [4, 4, 4, 4]
    assert sorted(r["value"].decode() for r in df.collect()) == sorted(
        f"m-{i}" for i in range(16)
    )
    # streaming honors it too: a capped drain still respects the split
    reader = kafka_sim.KafkaSimStreamReader(
        {"path": log, "subscribe": "hr-stream", "minPartitions": "3"}
    )
    slices = reader.partitions({"hr-stream:0": 0}, {"hr-stream:0": 16})
    assert len(slices) == 3
    ranges = sorted((s.start, s.end) for s in slices)
    # contiguous, non-overlapping cover of exactly [0, 16)
    assert ranges[0][0] == 0 and ranges[-1][1] == 16
    assert all(a[1] == b[0] for a, b in zip(ranges, ranges[1:]))
    with pytest.raises(Exception, match="positive"):
        kafka_sim.KafkaSimStreamReader(
            {"path": log, "subscribe": "hr-stream", "minPartitions": "0"}
        )


def test_review_regressions_round6_session(spark, tmp_path):
    """Pins for the session's review findings: duplicate subscribe
    topics read once (batch == stream), an earlier query's frontier
    cannot disable the cap for a FRESH query, batch rejects the grammar the
    real connector rejects, and malformed offset/assign shapes all get
    the friendly grammar error."""
    import time

    log = str(tmp_path / "log")
    kafka_sim.produce(log, "hr-stream", [f"m-{i}" for i in range(6)], 0)
    kafka_sim.register(spark)

    # 1) duplicate topics in the CSV are a set, not a multiplier
    dup = (
        spark.read.format(kafka_sim.SOURCE_NAME)
        .option("path", log)
        .option("subscribe", "hr-stream,hr-stream")
        .load()
        .collect()
    )
    assert len(dup) == 6

    # 2) an earlier (uncapped) query on the same log and default group
    # reached frontier 6; a FRESH capped polling query must still pace
    # 2-at-a-time from ITS start (earliest), not deliver the whole
    # backlog in one batch
    first: list[str] = []
    _drain_stream(spark, log, "hr-stream", str(tmp_path / "ckpt-a"), first)
    assert len(first) == 6
    sizes: list[int] = []
    got: list[str] = []

    def sink(batch_df, _bid):
        vals = [r["value"] for r in batch_df.collect()]
        if vals:
            sizes.append(len(vals))
            got.extend(vals)

    q = (
        kafka.kafka_sim_value_stream(
            spark, log, "hr-stream", max_records_per_batch=2
        )
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt-b"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while len(got) < 6 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    assert sorted(got) == [f"m-{i}" for i in range(6)]
    assert max(sizes) <= 2

    # 3) batch grammar: loud rejections, not silent empties
    def batch(**opts):
        r = (
            spark.read.format(kafka_sim.SOURCE_NAME)
            .option("path", log)
            .option("subscribe", "hr-stream")
        )
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load().collect()

    with pytest.raises(Exception, match="not valid for batch"):
        batch(startingOffsets="latest")
    with pytest.raises(Exception, match="not valid for batch"):
        batch(endingOffsets="earliest")
    with pytest.raises(Exception, match="startingOffset"):
        batch(
            startingOffsets='{"hr-stream": {"0": 5}}',
            endingOffsets='{"hr-stream": {"0": 2}}',
        )
    # 4) malformed shapes → the documented grammar errors
    with pytest.raises(Exception, match="offsets JSON must map"):
        batch(startingOffsets='{"hr-stream": [0, 5]}')
    with pytest.raises(Exception, match="must be an int"):
        batch(startingOffsets='{"hr-stream": {"0": "abc"}}')
    with pytest.raises(Exception, match="assign must be"):
        (
            spark.read.format(kafka_sim.SOURCE_NAME)
            .option("path", log)
            .option("assign", '{"hr-stream": [0.5]}')
            .load()
            .collect()
        )
    with pytest.raises(Exception, match="not a valid regex"):
        (
            spark.read.format(kafka_sim.SOURCE_NAME)
            .option("path", log)
            .option("subscribePattern", "[")
            .load()
            .collect()
        )


def test_pattern_discovers_new_topic_after_checkpoint(spark, tmp_path):
    """subscribePattern is a live metadata refresh: a topic created
    AFTER the first drain that matches the pattern is discovered on
    restart and read from offset 0 (new-partition rule), without
    touching already-committed topics."""
    log = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    kafka_sim.produce(log, "metrics-a", ["a0", "a1"], 0)

    def drain():
        got: list[str] = []

        def sink(batch_df, _bid):
            got.extend(r["value"].decode() for r in batch_df.collect())

        kafka_sim.register(spark)
        q = (
            spark.readStream.format(kafka_sim.SOURCE_NAME)
            .option("path", log)
            .option("subscribePattern", "metrics-.*")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(120), "drain timed out"
        finally:
            q.stop()
        return got

    assert sorted(drain()) == ["a0", "a1"]
    kafka_sim.produce(log, "metrics-b", ["b0"], 0)  # matches
    kafka_sim.produce(log, "other", ["x0"], 0)  # does not
    assert drain() == ["b0"]
