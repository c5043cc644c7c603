"""Readers for Spark's own accounting: the status tracker and status
store (jobs, stages, SQL metrics), the Catalyst phase tracker, plus the
process-level probes (peak RSS, loadavg, calibration). The program under
test is never touched; every read goes through public Spark objects."""

from __future__ import annotations

import os
import re
import time

PYWORKER_METRICS = {
    "time to start Python workers": "pyworker.start_s",
    "time to initialize Python workers": "pyworker.init_s",
    "time to run Python workers": "pyworker.run_s",
    "data sent to Python workers": "pyworker.mb_sent",
    "data returned from Python workers": "pyworker.mb_returned",
}
_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
         "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20}
_VALUE = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: ``"520 ms"`` or the total line of
    ``"total (min, med, max ...)\\n6.3 s (1.6 s, ...)"``, in seconds or MiB."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2) or "", 1.0)


def _iter(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def calibration_probe(spark, rows: int = 100_000_000) -> float:
    """Fixed CPU-bound work (codegen range-sum, no IO, no shuffle read):
    its time moves only with machine load. Best of two, so the first
    run's code generation does not count."""
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(0, rows, 1, 16).selectExpr("sum(id % 7) AS s").collect()
        best = min(best, time.perf_counter() - t0)
    return best


def machine_state(spark) -> dict:
    return {"cal_s": calibration_probe(spark), "loadavg_1m": os.getloadavg()[0]}


def job_ids(spark, group: str) -> list[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def stage_ids(spark, jobs) -> set[int]:
    tracker = spark.sparkContext.statusTracker()
    out: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            out.update(info.stageIds)
    return out


def stage_totals(spark, stages: set[int]) -> dict:
    """Task, time, shuffle and spill totals over the given stages, from
    the status store (skipped stages carry zeros)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    rows = store.stageList(None, False, False, sc._gateway.new_array(sc._gateway.jvm.double, 0), None)
    t = {"exec.stages": 0, "exec.tasks": 0, "exec.executor_run_s": 0.0,
         "exec.executor_cpu_s": 0.0, "exec.shuffle_read_mb": 0.0,
         "exec.shuffle_write_mb": 0.0, "exec.spill_mb": 0.0}
    for s in _iter(rows):
        if s.stageId() not in stages or str(s.status()) == "SKIPPED":
            continue
        t["exec.stages"] += 1
        t["exec.tasks"] += s.numCompleteTasks()
        t["exec.executor_run_s"] += s.executorRunTime() / 1e3
        t["exec.executor_cpu_s"] += s.executorCpuTime() / 1e9
        t["exec.shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
        t["exec.shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
        t["exec.spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
    return t


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    ids = [e.executionId() for e in _iter(store.executionsList())]
    return max(ids, default=-1)


def sql_totals(spark, after_id: int) -> dict:
    """Python-worker SQL metrics and exchange count summed over every SQL
    execution with id > ``after_id``."""
    store = spark._jsparkSession.sharedState().statusStore()
    t = {k: 0.0 for k in PYWORKER_METRICS.values()}
    t["exec.exchanges"] = 0
    for e in _iter(store.executionsList()):
        eid = e.executionId()
        if eid <= after_id:
            continue
        names = {}
        for node in _iter(store.planGraph(eid).allNodes()):
            if "Exchange" in node.name():
                t["exec.exchanges"] += 1
            for m in _iter(node.metrics()):
                if m.name() in PYWORKER_METRICS:
                    names[m.accumulatorId()] = PYWORKER_METRICS[m.name()]
        if not names:
            continue
        for kv in _iter(store.executionMetrics(eid)):
            key = names.get(kv._1())
            if key:
                t[key] += parse_metric(kv._2())
    return t


def phases(query_execution) -> dict:
    """Catalyst phase times from a JVM QueryExecution's phase tracker: a
    DataFrame's own (analysis at construction, the rest by the action
    that ran it) or a micro-batch's. ``None`` reads as zeros."""
    out = {"catalyst.analysis_s": 0.0, "catalyst.optimization_s": 0.0,
           "catalyst.planning_s": 0.0}
    if query_execution is None:
        return out
    for kv in _iter(query_execution.tracker().phases()):
        key = f"catalyst.{kv._1()}_s"
        if key in out:
            out[key] += kv._2().durationMs() / 1e3
    return out


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())
