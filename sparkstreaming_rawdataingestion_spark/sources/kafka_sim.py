"""Kafka-shaped simulated source over local log files (SURVEY §2.1 ops 1-2).

The reference consumes Kafka with a receiver-less DIRECT stream: a
comma-separated topic list, earliest offsets, one Kafka partition mapping
to one Spark partition (``RawDataIngestion.java:80-110``). No broker or
``spark-sql-kafka`` jars exist in this environment, so the real-connector
builders in ``kafka.py`` can only be plan-constructed, never executed.

This module closes that gap with a **Python DataSource** (public PySpark 4
API, ``pyspark.sql.datasource``) that reproduces the Kafka source's
CONTRACT end-to-end so every semantic the reference relies on is actually
executable and tested:

- same output schema as the real connector (``key binary, value binary,
  topic string, partition int, offset long, timestamp timestamp,
  timestampType int``) — downstream code cannot tell them apart;
- the full source-selection grammar (op 2): multi-topic ``subscribe``
  CSV, ``subscribePattern`` topic regex, and ``assign`` explicit
  partition JSON — exactly one required, like the real connector;
- the connector's ``startingOffsets`` / ``endingOffsets`` grammar:
  ``earliest``, ``latest``, or per-partition JSON with Kafka's -2/-1
  sentinels — honored by the batch reader on both ends and by the
  stream reader on a fresh checkpoint, exactly like the real source;
- the direct-stream partition model: one topic-partition log → one
  ``InputPartition`` → one Spark task, batch and streaming alike —
  plus ``minPartitions``, which halves the widest offset ranges until
  the requested task count is met (few fat Kafka partitions still fan
  out across a big cluster);
- ``failOnDataLoss`` (default true): a checkpointed range that the log
  can no longer serve (truncated file = retention eviction, deleted
  topic dir = topic deletion) raises instead of silently skipping;
  ``false`` continues from what the log still has;
- dense monotonically increasing per-partition offsets, resumable from a
  Structured Streaming checkpoint (exactly-once restart is pinned by
  ``tests/test_kafka_sim.py``);
- per-partition ``maxRecordsPerBatch`` backpressure — the stand-in for the
  real source's ``maxOffsetsPerTrigger`` replay-bounding knob. Its pacing
  base is the last range the engine announced to this reader, so it needs
  no state outside the checkpoint: a restarted query resumes one cap past
  its committed frontier, and a fresh query paces from its own start. The
  ``groupId`` option (Kafka's ``group.id``) is accepted and scopes nothing,
  like the real source, which also keeps its offsets in the checkpoint.

Log layout: ``<path>/<topic>/p<partition>.jsonl``; line N of a file is the
record at offset N (offset IS the line number, like a Kafka segment's
relative offset). ``produce()`` is the test-side producer.

This is a TEST/DEV transport: records cross the Python worker boundary via
Arrow, which is fine at fixture scale but is not the production path — on
a real cluster the JVM Kafka connector (``kafka.py``) takes over, and the
two expose identical DataFrames, so swapping is a format-string change.
"""

from __future__ import annotations

import datetime
import json
import os
import re
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

SOURCE_NAME = "kafka_sim"

# Matches the real Kafka connector's output columns (the driver-visible
# contract; timestampType 0 = CreateTime).
KAFKA_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset bigint, timestamp timestamp, timestampType int"
)

_UTC = datetime.timezone.utc

# Strict log-file name: 'p' + canonical (non-zero-padded) partition int.
# Anything else under a topic dir (editor temps, 'p01.jsonl' shadows of
# 'p1.jsonl') is ignored by BOTH batch and stream readers, so the two can
# never disagree about what the log contains.
_LOG_NAME = re.compile(r"^p(0|[1-9][0-9]*)\.jsonl$")


# ---------------------------------------------------------------------------
# Log-directory helpers (shared by driver-side planning and executor reads)
# ---------------------------------------------------------------------------


def _partition_files(path: str, topics: Sequence[str]) -> list[tuple[str, int, str]]:
    """(topic, partition, file) for every topic-partition log under
    ``path`` belonging to ``topics`` — the direct-stream "what partitions
    exist" metadata call."""
    out: list[tuple[str, int, str]] = []
    for topic in topics:
        tdir = os.path.join(path, topic)
        if not os.path.isdir(tdir):
            # Mirrors subscribing to a not-yet-created topic: no
            # partitions now, discovered on a later metadata refresh.
            continue
        for fname in sorted(os.listdir(tdir)):
            m = _LOG_NAME.match(fname)
            if m:
                out.append(
                    (topic, int(m.group(1)), os.path.join(tdir, fname))
                )
    return out


# (size, mtime_ns) → record count per log path: latestOffset() polls every
# trigger, and without this an idle polling stream re-scans every log file
# end-to-end each second (O(log-bytes) per trigger). stat() is enough to
# detect appends — the producer only ever appends.
_COUNT_CACHE: dict[str, tuple[tuple[int, int], int]] = {}


def _count_records(fpath: str) -> int:
    st = os.stat(fpath)
    sig = (st.st_size, st.st_mtime_ns)
    hit = _COUNT_CACHE.get(fpath)
    if hit is not None and hit[0] == sig:
        return hit[1]
    n = 0
    with open(fpath, "rb") as f:
        for line in f:
            if line.strip():
                n += 1
    if len(_COUNT_CACHE) >= 4096:
        # Bound the cache in long-lived planner processes serving many
        # rotating log dirs: drop entries for files that no longer
        # exist; if everything is still live, drop it all (one re-count
        # per file is cheaper than unbounded growth).
        for k in [k for k in _COUNT_CACHE if not os.path.exists(k)]:
            del _COUNT_CACHE[k]
        if len(_COUNT_CACHE) >= 4096:
            _COUNT_CACHE.clear()
    _COUNT_CACHE[fpath] = (sig, n)
    return n


def _read_slice(
    topic: str, part: int, fpath: str, start: int, end: int
) -> Iterator[tuple]:
    """Rows [start, end) of one topic-partition log, in offset order."""
    if end <= start:
        return
    with open(fpath, "rb") as f:
        offset = 0
        for line in f:
            if not line.strip():
                continue
            if offset >= end:
                break
            if offset >= start:
                # Decode inside a guard that names the record's position:
                # the sim is a test transport, so a malformed/hand-edited
                # line must surface as a diagnosable error carrying topic,
                # partition and offset — not a bare KeyError from a Python
                # worker (the real connector's deserializer errors carry
                # the same coordinates).
                try:
                    rec = json.loads(line)
                    key = rec.get("key")
                    row = (
                        key.encode("utf-8") if key is not None else None,
                        rec["value"].encode("utf-8"),
                        topic,
                        part,
                        offset,
                        datetime.datetime.fromtimestamp(
                            rec["ts"] / 1000.0, tz=_UTC
                        ),
                        0,
                    )
                except (ValueError, KeyError, TypeError, AttributeError) as e:
                    raise ValueError(
                        f"kafka_sim: corrupt log record at {topic}-{part} "
                        f"offset {offset} ({fpath}): {e!r}"
                    ) from e
                yield row
            offset += 1


def _selection_from_options(options) -> tuple[str, object]:
    """The connector's source-selection grammar: exactly one of
    ``subscribe`` (CSV topics), ``subscribePattern`` (topic regex), or
    ``assign`` (JSON ``{"topic": [0, 1]}`` of explicit partitions)."""
    given = [
        k
        for k in ("subscribe", "subscribePattern", "assign")
        if options.get(k, "").strip()
    ]
    if len(given) != 1:
        raise ValueError(
            "kafka_sim requires exactly one of 'subscribe', "
            f"'subscribePattern', 'assign' (got {given or 'none'})"
        )
    kind = given[0]
    raw = options.get(kind).strip()
    if kind == "subscribe":
        # dict.fromkeys: subscribe is a topic SET — a repeated topic in a
        # programmatically-assembled CSV must not double-read the log
        # (the stream reader's offset dict dedups implicitly; the batch
        # reader would otherwise emit one slice per occurrence).
        return kind, list(
            dict.fromkeys(t.strip() for t in raw.split(",") if t.strip())
        )
    if kind == "subscribePattern":
        try:
            return kind, re.compile(raw)
        except re.error as e:
            raise ValueError(
                f"subscribePattern is not a valid regex: {raw!r} ({e})"
            ) from None
    try:
        spec = json.loads(raw)
        assert isinstance(spec, dict) and all(
            isinstance(v, list) for v in spec.values()
        )
        # int(str(p)): rejects fractional partitions ('0.5' raises) and
        # non-numeric entries INSIDE the guarded block, so every shape
        # error gets the same grammar message.
        parsed = {t: {int(str(p)) for p in ps} for t, ps in spec.items()}
    except (ValueError, AssertionError):
        raise ValueError(
            f"assign must be JSON {{'topic': [partitions]}}, got {raw!r}"
        ) from None
    return kind, parsed


def _selected_files(path: str, selection: tuple[str, object]) -> list[tuple[str, int, str]]:
    """(topic, partition, file) for the selection — the metadata-refresh
    twin of ``_partition_files`` covering all three selection modes.
    Pattern subscription discovers topics from the log dir itself
    (``_consumer_offsets`` is broker metadata, never a topic)."""
    kind, spec = selection
    if kind == "subscribe":
        return _partition_files(path, spec)  # type: ignore[arg-type]
    if kind == "subscribePattern":
        topics = sorted(
            d
            for d in (os.listdir(path) if os.path.isdir(path) else [])
            if d != "_consumer_offsets"
            and os.path.isdir(os.path.join(path, d))
            and spec.fullmatch(d)  # type: ignore[union-attr]
        )
        return _partition_files(path, topics)
    out = []
    for topic, parts in spec.items():  # type: ignore[union-attr]
        for t, p, f in _partition_files(path, [topic]):
            if p in parts:
                out.append((t, p, f))
    return out


def _min_partitions_option(options) -> int | None:
    raw = options.get("minPartitions")
    if raw is None:
        return None
    n = int(raw)
    if n <= 0:
        raise ValueError(f"minPartitions must be a positive int, got {raw!r}")
    return n


def _split_to_min_partitions(
    slices: list[_Slice], min_partitions: int
) -> list[_Slice]:
    """The connector's ``minPartitions``: when fewer topic-partition
    ranges exist than requested Spark tasks, repeatedly halve the widest
    range — few fat Kafka partitions still fan out across the cluster.
    Order-stable per (topic, partition, start) so plans are
    deterministic.

    Cost note: ``_read_slice`` reaches a range by line-skipping from the
    file head (JSONL has no byte index), so N splits of one log read
    ~N/2 × the file in aggregate. Fine for this dev transport; the real
    connector seeks by offset, which is one reason it owns production."""
    work = list(slices)
    while len(work) < min_partitions:
        widest = max(work, key=lambda s: s.end - s.start, default=None)
        if widest is None or widest.end - widest.start <= 1:
            break  # nothing splittable left
        mid = (widest.start + widest.end) // 2
        work.remove(widest)
        work.append(_Slice(widest.topic, widest.part, widest.path, widest.start, mid))
        work.append(_Slice(widest.topic, widest.part, widest.path, mid, widest.end))
    return sorted(work, key=lambda s: (s.topic, s.part, s.start))


def _resolve_offsets_option(
    value: str,
    counts: dict[str, int],
    default_sentinel: int,
    forbid_sentinel: int | None = None,
    context: str = "offsets",
) -> dict[str, int]:
    """Resolve a ``startingOffsets``/``endingOffsets`` option to concrete
    per-topic-partition offsets — the real connector's grammar:
    ``"earliest"``, ``"latest"``, or per-partition JSON
    ``{"topic": {"0": 23, "1": -1}}`` with Kafka's sentinels (-2 =
    earliest, -1 = latest). Unlisted partitions fall back to
    ``default_sentinel`` (the connector's rule: -2 for starting, -1 for
    ending); JSON keys outside the subscription raise, like the real
    connector's unassigned-TopicPartition error — a typo'd backfill
    range must fail loudly, not fall back to earliest. ``forbid_sentinel``
    mirrors the batch rules (-1 starts / -2 ends are rejected even in
    JSON form). Out-of-range requests clamp to the log bounds — the log
    is the retention horizon, so "before earliest" IS earliest here."""
    spec = value.strip()
    if spec == "earliest":
        return {tp: 0 for tp in counts}
    if spec == "latest":
        return dict(counts)
    try:
        raw = json.loads(spec)
        assert isinstance(raw, dict)
    except (ValueError, AssertionError):
        raise ValueError(
            "offsets option must be 'earliest', 'latest', or "
            f"per-partition JSON, got {value!r}"
        ) from None
    for topic, entry in raw.items():
        if not isinstance(entry, dict):
            raise ValueError(
                "offsets JSON must map topics to {partition: offset} "
                f"objects, got {entry!r} for topic {topic!r}"
            )
        for part in entry:
            if f"{topic}:{part}" not in counts:
                raise ValueError(
                    f"{context} JSON references {topic}:{part}, which is "
                    "not in the subscription (typo, or the partition "
                    "does not exist)"
                )
    out: dict[str, int] = {}
    for tp, hi in counts.items():
        topic, _, part = tp.rpartition(":")
        entry = raw.get(topic, {})
        try:
            off = int(str(entry.get(part, default_sentinel)))
        except ValueError:
            raise ValueError(
                f"offset for {tp} must be an int (or -1/-2 sentinel), "
                f"got {entry.get(part)!r}"
            ) from None
        if forbid_sentinel is not None and part in entry and off == forbid_sentinel:
            raise ValueError(
                f"sentinel {off} is not allowed in {context} for {tp}"
            )
        if off == -2:
            off = 0
        elif off == -1:
            off = hi
        elif off < 0:
            raise ValueError(f"invalid offset {off} for {tp}")
        out[tp] = min(off, hi)
    return out


class _Slice(InputPartition):
    """One (topic-partition, offset-range) unit of work — the simulator's
    OffsetRange. Picklable; shipped to the Python worker that reads it."""

    def __init__(self, topic: str, part: int, path: str, start: int, end: int):
        self.topic = topic
        self.part = part
        self.path = path
        self.start = start
        self.end = end


# ---------------------------------------------------------------------------
# Batch reader (backfills / reprocessing twin)
# ---------------------------------------------------------------------------


class KafkaSimBatchReader(DataSourceReader):
    def __init__(self, options):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("kafka_sim requires option 'path' (log dir)")
        self._selection = _selection_from_options(options)
        # Real-connector batch semantics: default earliest → latest; the
        # connector rejects 'latest' starts and 'earliest' ends for batch
        # outright — a mistyped backfill must fail loudly, not return an
        # empty frame.
        self._starting = options.get("startingOffsets", "earliest")
        if self._starting.strip() == "latest":
            raise ValueError(
                "startingOffsets='latest' is not valid for batch queries"
            )
        self._ending = options.get("endingOffsets", "latest")
        if self._ending.strip() == "earliest":
            raise ValueError(
                "endingOffsets='earliest' is not valid for batch queries"
            )
        self._min_partitions = _min_partitions_option(options)

    def partitions(self) -> Sequence[InputPartition]:
        # One Spark partition per topic-partition log — the direct-stream
        # mapping; a subscribe over T topics × P partitions yields T×P
        # parallel tasks with no shuffle. minPartitions splits ranges
        # further when fewer logs exist than requested tasks.
        files = _selected_files(self._path, self._selection)
        counts = {f"{t}:{p}": _count_records(f) for t, p, f in files}
        starts = _resolve_offsets_option(
            self._starting,
            counts,
            -2,
            forbid_sentinel=-1,  # '-1 start' = latest: invalid for batch
            context="batch startingOffsets",
        )
        ends = _resolve_offsets_option(
            self._ending,
            counts,
            -1,
            forbid_sentinel=-2,  # '-2 end' = earliest: invalid for batch
            context="batch endingOffsets",
        )
        for tp in counts:
            if starts[tp] > ends[tp]:
                # the real connector asserts start <= end per partition
                raise ValueError(
                    f"startingOffset {starts[tp]} > endingOffset "
                    f"{ends[tp]} for {tp}"
                )
        slices = [
            _Slice(t, p, f, starts[f"{t}:{p}"], ends[f"{t}:{p}"])
            for t, p, f in files
            if ends[f"{t}:{p}"] > starts[f"{t}:{p}"]
        ]
        if self._min_partitions is not None:
            slices = _split_to_min_partitions(slices, self._min_partitions)
        return slices

    def read(self, partition: _Slice) -> Iterator[tuple]:
        return _read_slice(
            partition.topic,
            partition.part,
            partition.path,
            partition.start,
            partition.end,
        )


# ---------------------------------------------------------------------------
# Stream reader (the op-1 direct stream)
# ---------------------------------------------------------------------------


class KafkaSimStreamReader(DataSourceStreamReader):
    """Micro-batch offsets are ``{"topic:partition": next_offset}`` dicts —
    the same shape the real source checkpoints. ``partitions(start, end)``
    turns the delta into per-topic-partition slices, so recovery replays
    exactly the checkpointed range (exactly-once with an idempotent or
    transactional sink, e.g. ``sinks.dedup_on_pk``)."""

    def __init__(self, options):
        self._options = options
        self._path = options.get("path")
        if not self._path:
            raise ValueError("kafka_sim requires option 'path' (log dir)")
        self._selection = _selection_from_options(options)
        self._min_partitions = _min_partitions_option(options)
        cap = options.get("maxRecordsPerBatch")
        self._cap = int(cap) if cap is not None else None
        if self._cap is not None and self._cap <= 0:
            # '0' would otherwise stall the stream forever (every batch
            # plans base+0 = base new records); fail loudly instead.
            raise ValueError(
                f"maxRecordsPerBatch must be a positive int, got {cap!r}"
            )
        # Rate-limit base (NOT correctness state — the engine owns
        # committed offsets in its checkpoint): the end of the last range
        # the engine announced through latestOffset(), initialOffset() or
        # partitions(). On restart the engine hands the reader its
        # committed range through partitions() before it first asks for
        # latestOffset(), so the base resumes at the checkpointed
        # frontier. A fresh query's first call is latestOffset(), which
        # paces from startingOffsets. Keep the base out of any file: one
        # saved at planning time is ahead of the offset log when a stop
        # falls between the two (the restarted first batch would carry
        # two caps), and any saved frontier is stale for a later fresh
        # query on the same log (its first batch would span the backlog
        # uncapped).
        self._planned: dict[str, int] = {}

    def initialOffset(self) -> dict:
        # Consulted only on a FRESH checkpoint (the engine owns offsets
        # afterwards) — exactly when the real connector honors
        # startingOffsets. 'latest' makes the stream tail-only; JSON
        # pins per-partition resume points for log-replay jobs.
        counts = {
            f"{t}:{p}": _count_records(f)
            for t, p, f in _selected_files(self._path, self._selection)
        }
        initial = _resolve_offsets_option(
            self._options.get("startingOffsets", "earliest"), counts, -2
        )
        self._planned = dict(initial)
        return initial

    def latestOffset(self) -> dict:
        latest = {
            f"{t}:{p}": _count_records(f)
            for t, p, f in _selected_files(self._path, self._selection)
        }
        # First contact with a partition (no base yet): the pacing
        # base starts at the RESOLVED startingOffsets position, not 0.
        # The engine calls latestOffset before initialOffset on a fresh
        # query, so a capped 'latest'/JSON stream that based at 0 would
        # capture an end BELOW its own start and checkpoint a frontier
        # behind it — redelivering the skipped backlog on restart.
        # Partitions appearing mid-stream still DELIVER from 0 — the
        # engine passes their true range to partitions() — matching the
        # real connector, where startingOffsets applies only at query
        # start.
        missing = [tp for tp in latest if tp not in self._planned]
        if missing:
            floor = _resolve_offsets_option(
                self._options.get("startingOffsets", "earliest"),
                dict(latest),
                -2,
            )
            for tp in missing:
                self._planned[tp] = floor[tp]
        if self._cap is not None:
            for tp, hi in latest.items():
                base = self._planned.get(tp, 0)
                # per-partition cap, like maxOffsetsPerTrigger's per-
                # partition proration: never move backwards, never plan
                # more than `cap` new records per partition per batch
                latest[tp] = max(base, min(hi, base + self._cap))
        self._planned = dict(latest)
        return latest

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        files = {
            f"{t}:{p}": (t, p, f)
            for t, p, f in _selected_files(self._path, self._selection)
        }
        fail_on_loss = (
            str(self._options.get("failOnDataLoss", "true")).lower() != "false"
        )
        out = []
        for tp, hi in end.items():
            # On restart the engine announces its committed range (and
            # replans an uncommitted batch) here before planning anew:
            # keep the rate-limit base at least at the range's END so
            # subsequent latestOffset() calls extend from the frontier.
            lo = start.get(tp, 0)
            if self._planned.get(tp, 0) < hi:
                self._planned[tp] = hi
            if tp not in files:
                # Topic/partition vanished (deleted log = Kafka topic
                # deletion): checkpointed-but-unreadable range is data
                # loss, the connector's failOnDataLoss contract.
                if hi > lo and fail_on_loss:
                    raise ValueError(
                        f"data loss detected: {tp} no longer exists but "
                        f"offsets [{lo}, {hi}) are checkpointed; set "
                        "failOnDataLoss=false to continue"
                    )
                continue
            t, p, f = files[tp]
            count = _count_records(f)
            if lo > count:
                # Log shrank below the committed frontier (out-of-range
                # offsets = retention/truncation in Kafka terms).
                if fail_on_loss:
                    raise ValueError(
                        f"data loss detected: {tp} has "
                        f"{count} records but the stream is "
                        f"committed at {lo}; set failOnDataLoss=false "
                        "to continue from the new log end"
                    )
                continue
            if hi > count:
                # Truncation INSIDE a checkpointed range (lo <= count <
                # hi): the tail [count, hi) of a planned range is
                # unreadable — the real connector raises offset-out-of-
                # range for ANY unreadable part of a planned range, not
                # just a start past the end. Without this, _read_slice
                # would stop at EOF and silently drop the tail even with
                # failOnDataLoss=true.
                if fail_on_loss:
                    raise ValueError(
                        f"data loss detected: {tp} has {count} records "
                        f"but offsets [{lo}, {hi}) are planned; set "
                        "failOnDataLoss=false to continue with the "
                        "readable prefix"
                    )
                hi = count
            if hi > lo:
                out.append(_Slice(t, p, f, lo, hi))
        if self._min_partitions is not None:
            out = _split_to_min_partitions(out, self._min_partitions)
        # Empty delta → no partitions → an empty micro-batch (legal).
        return out

    def read(self, partition: _Slice) -> Iterator[tuple]:
        return _read_slice(
            partition.topic,
            partition.part,
            partition.path,
            partition.start,
            partition.end,
        )

    def commit(self, end: dict) -> None:
        # Sink-side effects are the sink's job; the source log is
        # immutable (Kafka retention is time-based, not commit-based).
        pass

    def stop(self) -> None:
        pass


class KafkaSimDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self) -> str:
        return KAFKA_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return KafkaSimBatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return KafkaSimStreamReader(self.options)


# ---------------------------------------------------------------------------
# Registration + producer
# ---------------------------------------------------------------------------

def register(spark: SparkSession) -> None:
    """Register the source on this session. Re-registration is a harmless
    overwrite, so no dedup bookkeeping (an ``id(spark)`` cache would break
    when a GC'd session's address is reused by a new one)."""
    spark.dataSource.register(KafkaSimDataSource)


def produce(
    log_dir: str,
    topic: str,
    values: Sequence[str],
    partition: int = 0,
    key: str | None = None,
    ts_ms: int = 1_700_000_000_000,
) -> None:
    """Append ``values`` to one topic-partition log (the test producer).
    Offsets are implicit line numbers, so appends are naturally dense and
    monotonic — redelivery tests re-run the STREAM, never rewrite the log."""
    tdir = os.path.join(log_dir, topic)
    os.makedirs(tdir, exist_ok=True)
    fpath = os.path.join(tdir, f"p{partition}.jsonl")
    with open(fpath, "a", encoding="utf-8") as f:
        for v in values:
            f.write(
                json.dumps({"key": key, "value": v, "ts": ts_ms}) + "\n"
            )
