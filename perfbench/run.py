"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Workloads: ``ingest_drain`` and ``analytics_mix`` (see perfbench/README.md). Run from the repository root or anywhere else:
the repository is located from this file's path. The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``); an earlier line starting with ``DETAIL`` carries the
workload's own metric names, the set-up breakdown and the calibration
probe / loadavg readings. Exit code 0 when every operation succeeded and
every result checked out, 1 on a correctness failure, 2 when the
repository is not there to benchmark, 3 when the run overstayed its
deadline and was killed.

The command runs the benchmark in a child process and outlives it: it
adopts every process the run leaves behind (Spark's JVM, its Python
worker daemon, multiprocessing helpers) and ends and reaps them all
before it exits, whichever way the run ended.
"""

from __future__ import annotations

import argparse
import collections
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sparkstreaming_rawdataingestion_spark"
CHILD_ENV = "PERFBENCH_CHILD"
DEADLINE_S = 170  # the whole run, set-up and result check included
GRACE_S = 3  # for leftover processes to end on their own
PR_SET_PDEATHSIG, PR_SET_CHILD_SUBREAPER = 1, 36


def _pin_env(work: str) -> None:
    """Everything the session and its Python workers inherit: every core
    the process may run on as a task thread, the repository importable in
    worker processes, and private scratch, local and temp dirs."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    time.tzset()


def _stop_spark(ctx) -> None:
    """Stop the session, then close the JVM's stdin and wait for it."""
    if ctx is None or ctx.spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    ctx.spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs; checks the output shape only")
    args = ap.parse_args(argv)

    for need in (os.path.join(PACKAGE, "__init__.py"), os.path.join("tools", "check_oracles.py")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    from perfbench import spans, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _pin_env(work)
    tracer = spans.Tracer(bool(args.trace))
    ctx = workloads.Context(args.seed, args.seconds, tracer, work, args.smoke)
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
        root = tracer.finish()
    finally:
        _stop_spark(ctx)
        shutil.rmtree(work, ignore_errors=True)

    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "end_to_end": res.end_to_end, **res.detail, "failures": res.failures}
    if args.trace:
        by_layer = spans.self_time_by_layer(root)
        res.per_layer["trace.overhead_s"] = by_layer.get("trace", 0.0)
        detail["self_time_s"] = by_layer
        out = os.path.join(ROOT, ".bench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"{args.workload}-seed{args.seed}-spans.json"), "w") as fh:
            json.dump(root.to_json(), fh)
    print("DETAIL " + json.dumps(detail, default=str))
    units = workloads.PER_LAYER_UNITS if args.trace else workloads.END_TO_END_UNITS
    values = res.per_layer if args.trace else res.end_to_end
    correct = not res.failures
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    sys.stdout.flush()
    return 0 if correct else 1


def _prctl(option: int, arg: int) -> bool:
    try:
        return ctypes.CDLL(None, use_errno=True).prctl(option, arg, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def _descendants(root: int) -> list[int]:
    """Every live or zombie process below ``root``, from /proc."""
    children = collections.defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _end_descendants() -> None:
    """Wait ``GRACE_S`` for the run's leftover processes to end, kill the
    rest, and reap every one of them (they are ours: this process is
    their subreaper)."""
    deadline = time.monotonic() + GRACE_S
    killing = False
    while True:
        _reap()
        left = _descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            if not killing:
                print(f"perfbench: killing {len(left)} leftover process(es)", file=sys.stderr)
                killing = True
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def supervise(argv, script: str = os.path.abspath(__file__)) -> int:
    """Run ``script`` (this file's ``main``) in a child process, kill it
    past ``DEADLINE_S``, pass on SIGTERM / SIGINT / SIGHUP, and end every
    process it left behind."""
    _prctl(PR_SET_CHILD_SUBREAPER, 1)
    child = subprocess.Popen(
        [sys.executable, script, *argv],
        env={**os.environ, CHILD_ENV: "1"},
        preexec_fn=lambda: _prctl(PR_SET_PDEATHSIG, signal.SIGKILL),
    )
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, lambda signum, _frame: child.send_signal(signum))
    try:
        rc = child.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run passed its {DEADLINE_S} s deadline; killed", file=sys.stderr)
        child.kill()
        child.wait()
        rc = 3
    finally:
        _end_descendants()
    return rc if rc >= 0 else 128 - rc


if __name__ == "__main__":
    sys.exit(main() if os.environ.get(CHILD_ENV) else supervise(sys.argv[1:]))
