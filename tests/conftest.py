from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

SF_DIR = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# Suite split: the full suite exceeds the default verify budget, so the
# long-running files carry a ``slow`` marker and the default run excludes
# them (pytest.ini addopts -m "not slow").
#
#   pytest tests/                       -> fast default
#   pytest tests/ -m slow               -> the slow complement
#   pytest tests/ -m "slow or not slow" -> every test
#
# The slow set is the 6 streaming micro-batch files below, every
# ``*_stream.py`` file (their batch twins stay in the default run), and
# 10 sweep/property/parity/codec files that re-walk operators whose
# functional tests stay in the default run. Markers are applied HERE,
# centrally, so the membership is one reviewable list.
#
# Running a slow file directly still applies the default ``-m "not
# slow"``: ``pytest tests/test_streaming.py`` deselects every test and
# exits with code 5 ("no tests collected"). Add ``-m slow`` to run it.
# ---------------------------------------------------------------------------

_SLOW_FILES = {
    # streaming state / micro-batch machinery (beyond *_stream.py)
    "test_kafka_sim.py",
    "test_kafka_sim_properties.py",
    "test_streaming.py",
    "test_streaming_windows_more.py",
    "test_stateful_streaming.py",
    "test_print_index.py",
    # robustness / property / recall / parity SWEEPS — each operator's
    # functional tests stay in the default run; these files re-walk the
    # same operators across degenerate inputs, random properties, recall
    # grids, sf0.1 parity and codec edge matrices
    "test_ansi_degenerate_guards.py",
    "test_northstar.py",
    "test_properties.py",
    "test_round6_properties.py",
    "test_round8_properties.py",
    "test_fold_properties.py",
    "test_review_regressions_r6.py",
    "test_experiments.py",
    "test_monitor_parity_sf01.py",
    "test_media_codecs.py",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        fname = Path(str(item.fspath)).name
        if fname in _SLOW_FILES or fname.endswith("_stream.py"):
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from sparkstreaming_rawdataingestion_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8, master="local[8]")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
