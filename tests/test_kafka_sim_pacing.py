"""Restart pacing of the capped ``kafka_sim`` stream reader, at reader
level (no Spark). The calls follow the engine's order: a fresh query asks
for ``latestOffset()`` first, then ``initialOffset()``, then executes the
batch with ``partitions(start, end)``; a restarted query hands its new
reader the committed range through ``partitions()`` before it plans."""

from __future__ import annotations

from sparkstreaming_rawdataingestion_spark.sources import kafka_sim

TP = "hr-stream:0"


def _reader(log: str) -> kafka_sim.KafkaSimStreamReader:
    return kafka_sim.KafkaSimStreamReader(
        {"path": log, "subscribe": "hr-stream", "maxRecordsPerBatch": "3"}
    )


def test_planned_but_unexecuted_batch_does_not_move_restart_base(tmp_path):
    log = str(tmp_path / "log")
    kafka_sim.produce(log, "hr-stream", [f"m-{i}" for i in range(20)], 0)

    first = _reader(log)
    end = first.latestOffset()
    start = first.initialOffset()
    assert (start, end) == ({TP: 0}, {TP: 3})
    first.partitions(start, end)  # batch 0 executes and commits
    # batch 1 is planned, then the query stops before logging it
    assert first.latestOffset() == {TP: 6}
    del first

    restarted = _reader(log)
    restarted.partitions(end, end)  # the engine's committed range
    # last executed end (3) plus one cap, not the unlogged 6 plus a cap
    assert restarted.latestOffset() == {TP: 6}


def test_fresh_query_paces_from_its_start(tmp_path):
    log = str(tmp_path / "log")
    kafka_sim.produce(log, "hr-stream", [f"m-{i}" for i in range(20)], 0)

    earlier = _reader(log)  # an earlier query drains four batches
    end = earlier.latestOffset()
    start = earlier.initialOffset()
    for _ in range(4):
        earlier.partitions(start, end)
        start, end = end, earlier.latestOffset()
    assert start == {TP: 12}
    # a fresh query on the same log must not inherit that frontier: its
    # first batch is one cap from startingOffsets, not the backlog
    assert _reader(log).latestOffset() == {TP: 3}
