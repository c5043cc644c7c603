"""The two workloads. Each returns a ``Result`` with its end-to-end
metrics, its per-layer metrics (filled in the traced run only) and the
attempted / failed operation counts.

The program is reached only through its public functions
(``queries.all_queries``, ``session``, ``sources.kafka``/``kafka_sim``,
``operators.ingest``, ``sinks``, ``streaming.ingest_stream``) and through
Spark's own progress events, status store and phase tracker.
"""

from __future__ import annotations

import ast
import collections
import json
import math
import os
import random
import statistics
import time
from dataclasses import dataclass, field

import pyarrow as pa

from . import ingest_log, oracle, sparkstats, tables

RELATIONAL = (
    "q3_shipping_priority", "q5_regional_revenue", "q8_market_share",
    "agg_pricing_summary", "join_fact_fact_revenue", "join_strategies_pack",
    "window_functions_pack", "ingest_idempotency", "datapoint_day_rollup",
)
# the iterative-curation operators that fit the run budget: Spark jobs run
# during plan construction (tokenizer_bpe_train's 12 merge actions), staged
# persists and a mapInPandas codec (multimodal_audio_fingerprint_pairs),
# and a product-quantization encode (similarity_pq_portable_topk)
CURATION = (
    "tokenizer_bpe_train", "multimodal_audio_fingerprint_pairs", "similarity_pq_portable_topk",
)
ALL_QUERIES = RELATIONAL + CURATION
GROUPS = {"relational_star": RELATIONAL, "curation_iterative": CURATION}

TABLE_SEED = 20240101  # the analytics tables are fixed; the seed orders the queries
SF, TINY_SF = 0.1, 0.001
INGEST_CAP = 100  # records per partition per micro-batch
SMOKE_CAP = 10
WARMUP_BATCHES = 6
# between reads of the query's progress events; each read converts every
# recent event in the JVM and in Python, on the cores the drain runs on
POLL_S = 0.25
STREAM_METRICS = {
    "addBatch": "stream.add_batch_s", "queryPlanning": "stream.query_planning_s",
    "walCommit": "stream.wal_commit_s", "commitOffsets": "stream.commit_offsets_s",
    "latestOffset": "stream.latest_offset_s",
}

END_TO_END_UNITS = {"setup_s": "s", "work_s": "s", "op_p50_s": "s", "op_geomean_s": "s"}
PER_LAYER_UNITS = {
    "mem.peak_rss_mb": "MB",
    "session.release_s": "s", "session.persisted_rdds": "count",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.executor_run_s": "s", "exec.executor_cpu_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.exchanges": "count",
    "pyworker.start_s": "s", "pyworker.init_s": "s", "pyworker.run_s": "s",
    "pyworker.mb_sent": "MB", "pyworker.mb_returned": "MB",
    "sources.kafka_sim.read_s": "s", "operators.ingest.normalize_s": "s",
    "sinks.write_s": "s", "ingest.files_written": "count",
    "ingest.day_partitions_per_batch": "count",
    "stream.add_batch_s": "s", "stream.query_planning_s": "s",
    "stream.wal_commit_s": "s", "stream.commit_offsets_s": "s",
    "stream.latest_offset_s": "s", "stream.rows_per_batch": "count",
    "stream.restart_s": "s", "trace.overhead_s": "s",
    **{f"group.{g}.s": "s" for g in GROUPS},
    **{f"query.{n}.s": "s" for n in ALL_QUERIES},
}


@dataclass
class Result:
    end_to_end: dict
    per_layer: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    detail: dict = field(default_factory=dict)


def geomean(xs) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def tail(xs, beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` values above it
    (nearest rank) and that percentile, for lists longer than ``beyond``."""
    s = sorted(xs)
    k = max(1, len(s) - beyond)
    return s[k - 1], k / len(s)


def _why(ex: Exception) -> str:
    return f"{type(ex).__name__}: {(str(ex).splitlines() or [''])[0][:200]}"


def _layer_zeros() -> dict:
    return {k: 0.0 if u != "count" else 0 for k, u in PER_LAYER_UNITS.items()}


class Context:
    """One process, one client: owns the session, the work dir and the
    tracer, and keeps every timing on one clock."""

    def __init__(self, seed: int, seconds: int, tracer, work: str, smoke: bool):
        self.seed, self.seconds, self.tracer = seed, seconds, tracer
        self.trace, self.work, self.smoke = tracer.enabled, work, smoke
        self.spark = None
        self.clock = tracer.clock

    def start_session(self):
        from sparkstreaming_rawdataingestion_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench")
        return self.spark

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def pids(self) -> list[int]:
        return [os.getpid(), sparkstats.jvm_pid(self.spark)]


# ---------------------------------------------------------------------------
# analytics_mix: the relational_star and curation_iterative query groups
# ---------------------------------------------------------------------------


def run_queries(ctx: Context, names) -> Result:
    from sparkstreaming_rawdataingestion_spark import session
    from sparkstreaming_rawdataingestion_spark.queries import all_oracles, all_queries

    clock, tr = ctx.clock, ctx.tracer
    t0 = clock()
    sf_dir = tables.write(ctx.path("tables"), TINY_SF if ctx.smoke else SF, TABLE_SEED)
    tiny_dir = tables.write(ctx.path("tiny"), TINY_SF, TABLE_SEED + 1)
    gen_s = clock() - t0
    t0 = clock()
    with tr.span("session", "setup"):
        spark = ctx.start_session()
    session_s = clock() - t0
    registry = all_queries()
    t0 = clock()
    with tr.span("warmup", "setup"):
        # every query once on the tiny tables, so no timed query pays the
        # session's first-query, codegen, job-loop or Python-worker
        # start-up costs for another
        warm_s = {}
        for name in names:
            t1 = clock()
            try:
                registry[name](spark, tiny_dir).toArrow()
            except Exception:  # the timed run counts the failure
                pass
            warm_s[name] = round(clock() - t1, 2)
    warmup_s = clock() - t0
    setup_s = gen_s + session_s + warmup_s

    machine = {"start": sparkstats.machine_state(spark)}
    order = list(names)
    random.Random(ctx.seed).shuffle(order)
    qtimes, results, layers = {}, {}, _layer_zeros()
    failures = []
    with tr.span("pass", "pass"):
        for i, name in enumerate(order):
            rec = _run_query(ctx, session, registry, name, sf_dir, f"perfbench-{i}", layers)
            if rec.get("error"):
                failures.append(f"{name}: {rec['error']}")
                continue
            qtimes[name] = rec["s"]
            results[name] = rec
    machine["end"] = sparkstats.machine_state(spark)
    peak = sparkstats.peak_rss_mb(ctx.pids())

    t0 = clock()
    con = oracle.connect(sf_dir, tables.TABLES)
    cache = oracle.OracleCache(
        os.path.join(os.path.dirname(ctx.work), "oracle-cache"), con,
        tables.fingerprint(TINY_SF if ctx.smoke else SF, TABLE_SEED),
    )
    bad = oracle.check_all(cache, {n: (r["schema"], r["table"]) for n, r in results.items()},
                           all_oracles(), workers=len(os.sched_getaffinity(0)))
    failures += [f"{n}: {why}" for n, why in bad.items()]
    con.close()
    check_s = clock() - t0

    vals = list(qtimes.values()) or [float("nan")]
    e2e = {
        "setup_s": setup_s, "work_s": sum(vals),
        "op_p50_s": statistics.median(vals), "op_geomean_s": geomean(vals),
    }
    res = Result(e2e, attempted=len(order), failed=len(failures), failures=failures)
    res.detail = {
        "peak_rss_mb": peak, "query_total_s": e2e["work_s"], "query_geomean_s": e2e["op_geomean_s"],
        **{f"{g}.query_total_s": sum(qtimes.get(n, 0.0) for n in members) for g, members in GROUPS.items()},
        "order": order, "query_s": qtimes, "check_s": check_s,
        "setup": {"gen_s": gen_s, "session_s": session_s, "warmup_s": warmup_s, "warmup_query_s": warm_s},
        "machine": machine,
    }
    if ctx.trace:
        layers["mem.peak_rss_mb"] = peak
        for n, s in qtimes.items():
            layers[f"query.{n}.s"] = s
        for g, members in GROUPS.items():
            layers[f"group.{g}.s"] = sum(qtimes.get(n, 0.0) for n in members)
        res.per_layer = layers
    return res


def _run_query(ctx, session, registry, name, sf_dir, group, layers) -> dict:
    spark, clock, tr = ctx.spark, ctx.clock, ctx.tracer
    spark.sparkContext.setJobGroup(group, name)
    last_exec = sparkstats.last_execution_id(spark) if ctx.trace else None
    with tr.span(name, "query"):
        try:
            with tr.span("release", "session"):
                if ctx.trace:
                    layers["session.persisted_rdds"] += sparkstats.persisted_rdds(spark)
                t0 = clock()
                session.release_staged()
                release_s = clock() - t0
            with tr.span("build", "queries"):
                t0 = clock()
                df = registry[name](spark, sf_dir)
                build_s = clock() - t0
            if ctx.trace:
                with tr.span("read", "trace"):
                    build_jobs = len(sparkstats.job_ids(spark, group))
            with tr.span("execute", "exec"):
                t0 = clock()
                table = df.toArrow()
                exec_s = clock() - t0
        except Exception as ex:  # a failing query is counted, not fatal
            return {"error": _why(ex)}
    if ctx.trace:
        with tr.span("read", "trace"):
            jobs = sparkstats.job_ids(spark, group)
            layers["session.release_s"] += release_s
            layers["queries.build_s"] += build_s
            layers["queries.build_jobs"] += build_jobs
            layers["exec.wall_s"] += exec_s
            layers["exec.jobs"] += len(jobs)
            for src in (sparkstats.stage_totals(spark, sparkstats.stage_ids(spark, jobs)),
                        sparkstats.sql_totals(spark, last_exec),
                        sparkstats.phases(df._jdf.queryExecution())):
                for k, v in src.items():
                    layers[k] += v
    return {"s": release_s + build_s + exec_s, "table": table, "schema": df.schema}


# ---------------------------------------------------------------------------
# ingest_drain
# ---------------------------------------------------------------------------


def _progress_end(p: dict) -> float:
    """Wall-clock end of a micro-batch from its progress event."""
    import datetime

    start = datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1e3


def _end_offset(p: dict) -> dict:
    """The batch's end offset; the Python source reports it as the repr
    of its offset dict."""
    end = p["sources"][0]["endOffset"]
    return ast.literal_eval(end) if isinstance(end, str) else end


def _committed(q, until, timeout_s=60.0) -> list[dict]:
    """Poll the query's progress events until ``until(events)`` holds for
    the data-bearing batches committed so far."""
    seen: dict = {}
    deadline = time.monotonic() + timeout_s
    while True:
        for p in q.recentProgress:
            if p["numInputRows"] > 0:
                seen.setdefault(p["batchId"], p)
        events = [seen[b] for b in sorted(seen)]
        if events and until(events):
            return events
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        if time.monotonic() > deadline:
            raise TimeoutError("ingest drain did not finish in time")
        time.sleep(POLL_S)


def _drain(ctx, log, log_dir, group_id, sink, ckpt, stop_after=None):
    """Run the file-sink ingest over the backlog in ``log_dir`` until the
    log end has committed, or until ``stop_after`` batches have, then stop
    it. Returns the start wall time and every committed progress event."""
    from sparkstreaming_rawdataingestion_spark.sources import kafka
    from sparkstreaming_rawdataingestion_spark.streaming.ingest_stream import start_ingest_file_sink

    cap = SMOKE_CAP if ctx.smoke else INGEST_CAP
    values = kafka.kafka_sim_value_stream(ctx.spark, log_dir, ingest_log.TOPIC, cap, group_id=group_id)
    ends = log.end_offsets()
    started = time.time()
    q = start_ingest_file_sink(values, sink, ckpt, trigger_seconds=0)
    try:
        if stop_after:
            _committed(q, lambda ev: len(ev) >= stop_after)
        else:
            _committed(q, lambda ev: _end_offset(ev[-1]) == ends)
        phases = sparkstats.phases(q._jsq.streamingQuery().lastExecution())
    finally:
        q.stop()
    # re-read after stop: batches that committed while stopping count too
    return started, _committed(q, lambda ev: True), phases


def run_ingest(ctx: Context) -> Result:
    from sparkstreaming_rawdataingestion_spark import session

    clock, tr = ctx.clock, ctx.tracer
    n_batches = 10 if ctx.smoke else max(10, ctx.seconds)
    per_batch = ingest_log.PARTITIONS * (SMOKE_CAP if ctx.smoke else INGEST_CAP)
    t0 = clock()
    log = ingest_log.IngestLog(ctx.seed, per_batch * n_batches)
    log.produce(ctx.path("log"))
    warm = ingest_log.IngestLog(ctx.seed + 1, per_batch * WARMUP_BATCHES)
    warm.produce(ctx.path("warm_log"))
    gen_s = clock() - t0

    t0 = clock()
    with tr.span("session", "setup"):
        spark = ctx.start_session()
    session_s = clock() - t0
    sink, ckpt, gid = ctx.path("sink"), ctx.path("ckpt"), f"drain-{ctx.seed}"
    layers = _layer_zeros()
    failures: list[str] = []
    try:
        t0 = clock()
        with tr.span("warmup", "setup"):
            _, warm_ev, _ = _drain(ctx, warm, ctx.path("warm_log"), "warmup", ctx.path("warm", "sink"),
                                   ctx.path("warm", "ckpt"))
        warmup_s = clock() - t0
        setup_s = gen_s + session_s + warmup_s
        machine = {"start": sparkstats.machine_state(spark)}
        last_exec = sparkstats.last_execution_id(spark)
        with tr.span("stream", "stream"):
            t0 = clock()
            session.release_staged()
            layers["session.release_s"] += clock() - t0
            start1, ev1, _ = _drain(ctx, log, ctx.path("log"), gid, sink, ckpt, stop_after=n_batches // 2)
            t0 = clock()
            session.release_staged()
            layers["session.release_s"] += clock() - t0
            with tr.span("restart", "stream"):
                start2, ev2, catalyst = _drain(ctx, log, ctx.path("log"), gid, sink, ckpt)
            to_clock = clock() - time.time()
            for p in ev1 + ev2:
                end = _progress_end(p) + to_clock
                tr.add(f"batch{p['batchId']}", "batch", end - p["durationMs"]["triggerExecution"] / 1e3,
                       end, rows=p["numInputRows"])
    except Exception as ex:  # a failing stream ends the run with a counted failure
        # every batch the drain's checkpoint did not commit counts as failed
        commits = os.path.join(ckpt, "commits")
        done = sum(f.isdigit() for f in os.listdir(commits)) if os.path.isdir(commits) else 0
        failures.append(f"ingest stream: {_why(ex)}")
        return Result(dict.fromkeys(END_TO_END_UNITS), dict.fromkeys(PER_LAYER_UNITS),
                      attempted=max(n_batches, done), failed=max(1, n_batches - done), failures=failures)
    events = ev1 + ev2
    durs = [p["durationMs"]["triggerExecution"] / 1e3 for p in events]
    work_s = (_progress_end(ev1[-1]) - start1) + (_progress_end(ev2[-1]) - start2)
    restart_s = _progress_end(ev2[0]) - start2
    if ctx.trace:
        with tr.span("read", "trace"):
            run_ids = {p["runId"] for p in events}
            jobs = sorted(j for r in run_ids for j in sparkstats.job_ids(spark, r))
            layers["exec.jobs"] = len(jobs)
            layers["exec.wall_s"] = work_s
            for src in (sparkstats.stage_totals(spark, sparkstats.stage_ids(spark, jobs)),
                        sparkstats.sql_totals(spark, last_exec), catalyst):
                for k, v in src.items():
                    layers[k] += v
            for key, name in STREAM_METRICS.items():
                layers[name] = statistics.median(p["durationMs"].get(key, 0) / 1e3 for p in events)
            layers["stream.rows_per_batch"] = statistics.median(p["numInputRows"] for p in events)
            layers["stream.restart_s"] = restart_s
            layers.update(_sink_files(sink))
    machine["end"] = sparkstats.machine_state(spark)
    peak = sparkstats.peak_rss_mb(ctx.pids())

    got = spark.read.parquet(sink).select("datastream_id", "day", "datetime", "offset").toArrow()
    cols = [got.column(c).to_pylist() for c in ("datastream_id", "day")]
    # the NTZ timestamp's stored value is the UTC wall clock in µs
    cols.append([us // 1000 for us in got.column("datetime").cast(pa.int64()).to_pylist()])
    cols.append(got.column("offset").to_pylist())
    have = collections.Counter(zip(*cols))
    missing = sum((log.expected - have).values())
    extra = sum((have - log.expected).values())
    if missing or extra:
        failures.append(f"sink mismatch: {missing} datapoints lost, {extra} duplicate or unexpected")
    if sum(p["numInputRows"] for p in events) != log.n_messages:
        failures.append("consumed message count differs from the log")

    p_tail, pct = tail(durs)
    e2e = {"setup_s": setup_s, "work_s": work_s,
           "op_p50_s": statistics.median(durs), "op_geomean_s": geomean(durs)}
    res = Result(e2e, attempted=len(events), failed=len(events) if failures else 0, failures=failures)
    res.detail = {
        "peak_rss_mb": peak, "ingest_dp_per_s": log.n_datapoints / work_s, "batch_p50_s": e2e["op_p50_s"],
        "batch_tail_s": p_tail, "batch_tail_pct": round(100 * pct, 1), "restart_s": restart_s,
        "batch_s": durs, "batches": len(events), "datapoints": log.n_datapoints, "messages": log.n_messages,
        "malformed": log.n_malformed, "empty": log.n_empty,
        "setup": {"gen_s": gen_s, "session_s": session_s, "warmup_s": warmup_s,
                  "warmup_batch_s": [p["durationMs"]["triggerExecution"] / 1e3 for p in warm_ev]},
        "machine": machine,
    }
    if ctx.trace:
        layers["mem.peak_rss_mb"] = peak
        layers.update(_isolate(ctx, ctx.path("log")))
        res.per_layer = layers
    return res


def _sink_files(sink: str) -> dict:
    """Files the file sink committed and the median number of ``day``
    partitions each batch wrote, from the sink's own metadata log."""
    meta = os.path.join(sink, "_spark_metadata")
    seen: set[str] = set()
    days_per_batch = []
    logs = [f for f in os.listdir(meta) if f.split(".")[0].isdigit() and not f.endswith(".crc")]
    for f in sorted(logs, key=lambda f: int(f.split(".")[0])):
        with open(os.path.join(meta, f)) as fh:
            paths = {json.loads(line)["path"] for line in fh.read().splitlines()[1:] if line}
        new = paths - seen
        seen |= paths
        days_per_batch.append(len({p.split("day=")[1].split("/")[0] for p in new if "day=" in p}))
    return {"ingest.files_written": len(seen),
            "ingest.day_partitions_per_batch": statistics.median(days_per_batch or [0])}


def _isolate(ctx, log_dir) -> dict:
    """Batch calls over the same log, each adding one layer: the source
    read, then the normalize parse, then the day-partitioned sink write."""
    from sparkstreaming_rawdataingestion_spark import sinks
    from sparkstreaming_rawdataingestion_spark.operators.ingest import ingest_normalize
    from sparkstreaming_rawdataingestion_spark.sources import kafka

    spark, clock, tr = ctx.spark, ctx.clock, ctx.tracer

    def values():
        return kafka.kafka_sim_value_batch(spark, log_dir, ingest_log.TOPIC)

    steps = {
        "read": lambda: values().write.format("noop").mode("overwrite").save(),
        "normalize": lambda: ingest_normalize(values()).write.format("noop").mode("overwrite").save(),
        "write": lambda: sinks.write_datapoints(ingest_normalize(values()), ctx.path("iso_sink")),
    }
    t = {}
    with tr.span("isolate", "isolate"):
        for name, fn in steps.items():
            with tr.span(name, "isolate"):
                for _ in range(2):  # best of two
                    t0 = clock()
                    fn()
                    t[name] = min(t.get(name, float("inf")), clock() - t0)
    return {"sources.kafka_sim.read_s": t["read"],
            "operators.ingest.normalize_s": t["normalize"] - t["read"],
            "sinks.write_s": t["write"] - t["normalize"]}


WORKLOADS = {
    "ingest_drain": run_ingest,
    "analytics_mix": lambda ctx: run_queries(ctx, ALL_QUERIES),
}
