"""The package root wraps ``zipimport.zipimporter.invalidate_caches`` so
that ``importlib.invalidate_caches()`` — called by every PySpark worker
task — skips re-reading zip archives whose stat has not changed, and
still re-reads one that was rewritten."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import sparkstreaming_rawdataingestion_spark as engine

guarded = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13+ zipimport drops its cache lazily; no guard is installed",
)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"guard_probe_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)
    yield archive
    sys.path_importer_cache.pop(archive, None)
    for name in ("guard_probe_a", "guard_probe_b"):
        sys.modules.pop(name, None)


@guarded
def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    import guard_probe_a

    assert guard_probe_a.VALUE == "a"
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1  # first sight: stat unknown
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1  # unchanged: no re-read


def test_rewritten_archive_is_reread(zip_on_path):
    import guard_probe_a  # noqa: F401

    importlib.invalidate_caches()  # the guard records this stat
    _write_zip(
        zip_on_path,
        {"guard_probe_a": "VALUE = 'a'\n", "guard_probe_b": "VALUE = 'b'\n"},
    )
    importlib.invalidate_caches()
    import guard_probe_b

    assert guard_probe_b.VALUE == "b"


@guarded
def test_install_wraps_once():
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped.skips_unchanged_archive
    engine._install_archive_guard()
    assert zipimport.zipimporter.invalidate_caches is wrapped


@guarded
def test_reused_workers_report_guard_installed(spark):
    def probe(_rows):
        import os
        import zipimport

        import sparkstreaming_rawdataingestion_spark  # noqa: F401

        method = zipimport.zipimporter.invalidate_caches
        yield os.getpid(), getattr(method, "skips_unchanged_archive", False)

    rdd = spark.sparkContext.parallelize(range(4), 4)
    for _ in range(2):
        got = rdd.mapPartitions(probe).collect()
        assert len(got) == 4
        assert all(installed for _pid, installed in got), got
