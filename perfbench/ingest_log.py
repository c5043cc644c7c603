"""Seeded Kafka-message generator for the ingest drain.

Produces the reference's native message shape (FIXTURES.md §A.1) into a
3-partition ``kafka_sim`` log through ``kafka_sim.produce`` and returns
what the normalized sink must then hold: one expected DataPoint key per
valid ``data`` element, and nothing for malformed or empty messages.
"""

from __future__ import annotations

import collections
import datetime
import json

import numpy as np

TOPIC = "raw-events"
PARTITIONS = 3
MAX_POINTS = 200
EPOCH_MS = 1_709_251_200_000  # 2024-03-01T00:00:00Z
SPAN_MS = 30 * 86_400_000
# negative and non-multiple-of-60000 offsets exercise the truncating
# ms -> minutes division
OFFSETS_MS = (-21_600_000, -18_001_234, -37_000, -60_001, 0, 59_999,
              123_456, 3_600_000, 19_800_000, 20_700_500)
MALFORMED = ('{"datastream_id": oops', '{"datastream_id": 17, "da',
             "not json at all", "[1, 2", "")


def _samples(rng, n: int) -> list:
    """Mixed ``sample`` shapes: arrays, objects, scalars and strings."""
    x = np.round(rng.normal(0, 10, (n, 3)), 3).tolist()
    hr = rng.integers(40, 180, n).tolist()
    shapes = (
        lambda i: x[i],
        lambda i: {"hr": hr[i]},
        lambda i: x[i][0],
        lambda i: {"acc": {"x": x[i][1], "y": x[i][2]}, "q": [1, 2]},
        lambda i: "s-%d" % hr[i],
    )
    return [shapes[i % 5](i) for i in range(n)]


def offset_minutes(ms: int) -> int:
    """Truncation toward zero, like the reference's integer division."""
    q = abs(ms) // 60_000
    return -q if ms < 0 else q


def day_of(ms: int) -> str:
    return _DAYS[(ms - EPOCH_MS) // 86_400_000]


_DAYS = [
    (datetime.datetime(2024, 3, 1) + datetime.timedelta(days=d)).strftime("%Y%m%d")
    for d in range(SPAN_MS // 86_400_000)
]


class IngestLog:
    """``n_messages`` messages (``points_per_message`` datapoints each on
    average, heavy-tailed up to MAX_POINTS) with ~1% malformed and ~1%
    empty-``data`` messages. ``expected`` is the Counter of
    ``(datastream_id, day, datetime_ms, offset_minutes)`` keys the sink
    must hold after the drain."""

    def __init__(self, seed: int, n_messages: int, points_per_message: int = 20):
        rng = np.random.default_rng(seed)
        kinds = rng.random(n_messages)
        malformed = kinds < 0.01
        empty = (kinds >= 0.01) & (kinds < 0.02)
        valid = ~(malformed | empty)
        lengths = np.minimum(MAX_POINTS, 1 + (rng.pareto(1.3, n_messages) * 6).astype(int))
        lengths[~valid] = 0
        # rescale so every seed commits the same number of datapoints
        target = points_per_message * n_messages
        lengths[valid] = np.clip(
            np.rint(lengths[valid] * target / lengths[valid].sum()), 1, MAX_POINTS
        )
        while lengths.sum() != target:
            i = int(rng.choice(np.flatnonzero(valid)))
            step = 1 if lengths.sum() < target else -1
            if 1 <= lengths[i] + step <= MAX_POINTS:
                lengths[i] += step
        streams = np.minimum(rng.zipf(1.4, n_messages), 5000)
        n_points = int(lengths.sum())
        # every point falls anywhere in the 30-day span, so each batch
        # writes to (nearly) every day partition
        dts = (EPOCH_MS + rng.integers(0, SPAN_MS, n_points)).tolist()
        offs = np.asarray(OFFSETS_MS)[rng.integers(0, len(OFFSETS_MS), n_points)].tolist()
        samples = _samples(rng, n_points)
        self.values: list[str] = []
        self.expected: collections.Counter = collections.Counter()
        j = 0
        for i in range(n_messages):
            if malformed[i]:
                self.values.append(MALFORMED[i % len(MALFORMED)])
                continue
            ds = int(streams[i])
            data = []
            for dt, off, smp in zip(*(a[j:j + lengths[i]] for a in (dts, offs, samples))):
                data.append({"dateTime": dt, "offset": off, "sample": smp})
                self.expected[(ds, day_of(dt), dt, offset_minutes(off))] += 1
            j += int(lengths[i])
            self.values.append(json.dumps({"datastream_id": ds, "data": data}))
        self.n_messages = n_messages
        self.n_datapoints = n_points
        self.n_malformed = int(malformed.sum())
        self.n_empty = int(empty.sum())

    def end_offsets(self) -> dict:
        """Per-partition log end, in the source's offset format."""
        return {f"{TOPIC}:{p}": len(self.values[p::PARTITIONS]) for p in range(PARTITIONS)}

    def produce(self, log_dir: str) -> None:
        """Round-robin the messages over the partitions of one topic."""
        from sparkstreaming_rawdataingestion_spark.sources import kafka_sim

        for p in range(PARTITIONS):
            kafka_sim.produce(log_dir, TOPIC, self.values[p::PARTITIONS], p)
