"""Stop ``importlib.invalidate_caches()`` from re-reading unchanged zip
archives on every Python-worker task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). On Python 3.11 and 3.12
``zipimporter.invalidate_caches`` eagerly re-reads the whole central
directory of its archive, and a worker holds one importer per imported
subpackage of ``pyspark.zip`` plus importers over the py4j zip and the
Spark core jar (which Spark puts on the worker ``PYTHONPATH``): about
17 re-reads of 1,300-5,400-entry directories, ~180 ms of worker CPU per
task, against ~5 ms for a ``kafka_sim`` read itself.

The guard keeps, per archive path, the ``(st_ino, st_size, st_mtime_ns,
st_ctime_ns)`` stat taken just before the directory was last read, and
skips the re-read while the archive's stat still equals it: an unchanged
archive yields the same directory, so nothing an import can observe
changes. A zip added or rewritten by ``addPyFile`` has a new stat and is
re-read. Python 3.13's ``zipimport`` drops the cache lazily instead of
re-reading it, so the guard is not installed there and can be deleted
once the workers run 3.13 or later.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def install_archive_guard() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches`` once per process;
    later calls find the wrapper and return."""
    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    if getattr(reread, "skips_unchanged_archive", False):
        return
    # archive path -> (stat before the last read, directory it gave)
    directories: dict[str, tuple[tuple[int, int, int, int], dict]] = {}

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            reread(self)
            return
        key = (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)
        seen = directories.get(self.archive)
        if seen is not None and seen[0] == key:
            self._files = seen[1]
            zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        reread(self)
        # a failed read (the original empties the directory) is retried
        # next time, as the original would
        if self.archive in zipimport._zip_directory_cache:
            directories[self.archive] = (key, self._files)

    invalidate_caches.skips_unchanged_archive = True
    cls.invalidate_caches = invalidate_caches
