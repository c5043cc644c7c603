"""Tests for the benchmark itself: span self-time arithmetic, the summary
statistics, a smoke run of each workload that must emit every metric
named in BENCHMARK.json with its unit and leave no process behind, and
the command's reaping of the processes a run leaves behind.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run, spans, workloads  # noqa: E402


def _run_processes() -> list[str]:
    """Processes still alive from a benchmark run: everything the run
    starts inherits its child marker in the environment."""
    marker = f"{run.CHILD_ENV}=1".encode()
    left = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as fh:
                env = fh.read().split(b"\0")
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if marker in env:
            left.append(f"{d}: {cmd[:120]}")
    return left


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_children():
    clock = FakeClock()
    tr = spans.Tracer(True, clock)
    with tr.span("q", "query"):
        clock.t = 1.0
        with tr.span("build", "queries"):
            clock.t = 3.0
        with tr.span("execute", "exec"):
            clock.t = 7.0
        clock.t = 7.5
    root = tr.finish()
    q = root.children[0]
    assert q.duration == 7.5
    assert q.self_time == pytest.approx(1.5)
    layers = spans.self_time_by_layer(root)
    assert layers["queries"] == pytest.approx(2.0)
    assert layers["exec"] == pytest.approx(4.0)
    assert layers["query"] == pytest.approx(1.5)
    assert layers["run"] == pytest.approx(0.0)
    assert sum(layers.values()) == pytest.approx(root.duration)


def test_self_time_unions_overlapping_children_and_clips():
    clock = FakeClock()
    tr = spans.Tracer(True, clock)
    with tr.span("stream", "stream"):
        tr.add("b0", "batch", 1.0, 4.0)
        tr.add("b1", "batch", 3.0, 5.0)  # overlaps b0
        tr.add("b2", "batch", 9.0, 12.0)  # runs past the parent's end
        clock.t = 10.0
    s = tr.finish().children[0]
    # covered: [1, 5] and [9, 10] -> 5 s of the 10 s span
    assert s.self_time == pytest.approx(5.0)


def test_disabled_tracer_records_nothing():
    tr = spans.Tracer(False)
    with tr.span("q", "query") as s:
        assert s is None
    assert tr.add("b", "batch", 0.0, 1.0) is None
    assert tr.finish().children == []


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 31)]  # 30 samples
    value, pct = workloads.tail(xs)
    assert value == 20.0 and pct == pytest.approx(20 / 30)
    assert workloads.geomean([1.0, 4.0]) == pytest.approx(2.0)


def _bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_tables_match_benchmark_json():
    spec = _bench_json()
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER_UNITS


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_run_emits_every_metric(workload):
    """A tiny traced run: the last line carries every per-layer metric and
    the DETAIL line every end-to-end one."""
    spec = _bench_json()
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "1", "--smoke"],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert _run_processes() == []
    lines = out.stdout.strip().splitlines()
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["attempted"] >= 1 and last["failed"] == 0
    for m in spec["per_layer"]:
        got = last["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    detail = json.loads(next(ln for ln in lines if ln.startswith("DETAIL "))[len("DETAIL "):])
    for m in spec["end_to_end"]:
        assert detail["end_to_end"][m["name"]] > 0


def test_failing_stream_still_prints_a_result():
    """A stream error mid-drain is counted, not fatal: the run prints the
    result line with the uncommitted batches as failed and exits 1."""
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from perfbench import run, workloads\n"
        "drain, calls = workloads._drain, []\n"
        "def failing(*a, **kw):\n"
        "    calls.append(1)\n"
        "    if len(calls) == 3:  # warm-up, first half, then the restart\n"
        "        raise RuntimeError('stream failed: injected')\n"
        "    return drain(*a, **kw)\n"
        "workloads._drain = failing\n"
        "sys.exit(run.main(['--workload', 'ingest_drain', '--seed', '3', '--seconds', '1',\n"
        "                   '--trace', '0', '--smoke']))\n"
    ) % ROOT
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=600)
    assert out.returncode == 1, out.stderr[-3000:]
    last = json.loads(out.stdout.strip().splitlines()[-1])
    assert last["correct"] is False
    assert last["attempted"] == 10 and 1 <= last["failed"] < 10
    assert set(last["metrics"]) == {m["name"] for m in _bench_json()["end_to_end"]}


def test_command_reaps_what_the_run_leaves_behind(tmp_path):
    """A run that exits with an orphaned grandchild still running: the
    command waits its grace period, kills and reaps the orphan, and
    returns the run's exit code."""
    script = tmp_path / "leaky.py"
    script.write_text(
        "import subprocess, sys\n"
        "subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(600)'])\n"
        "print('done')\n"
        "sys.exit(5)\n"
    )
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from perfbench import run\n"
        "sys.exit(run.supervise([], %r))\n"
    ) % (ROOT, str(script))
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=60)
    assert out.returncode == 5, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "done"
    assert "killing 1 leftover process" in out.stderr
    assert _run_processes() == []
