"""PySpark worker daemon that makes a reused worker's task cost only its
own work.

PySpark forks every Python worker from a small daemon process and, with
``spark.python.worker.reuse`` on (the default), runs many tasks in each
worker. This daemon does three things before it starts forking:

1. **Preload.** It imports numpy, pandas and pyarrow. The stock daemon
   imports almost nothing, so every fresh worker pays ~1-2 s of CPU for
   those imports before its first Arrow batch, and a stage that asks for
   a wave of new workers (a 63-fork wave was measured inside one ANN
   audit query) multiplies that by the wave size. Forked workers inherit
   the initialized modules copy-on-write; worker start-up drops to the
   fork itself.

2. **Frozen heap.** ``pyspark.daemon`` runs ``gc.collect()`` after every
   task of a reused worker. Without a freeze that collection walks the
   whole preloaded numpy/pandas/pyarrow heap (~73k objects, 16-35 ms a
   task on a 4-vCPU VM), and its writes to the objects' GC headers
   copy-on-write-fault those pages into every worker. ``gc.freeze()``
   moves the preloaded objects to the permanent generation, so the
   per-task collection only walks what the task made.

3. **Archive-directory cache.** Every task starts with
   ``pyspark.worker_util.setup_spark_files``, which ends in
   ``importlib.invalidate_caches()``. On CPython 3.10-3.12,
   ``zipimport.zipimporter.invalidate_caches`` re-reads the archive's
   whole central directory at once (3.13 made the re-read lazy). With
   ``SPARK_HOME`` set a worker's ``sys.path`` holds ``pyspark.zip``, the
   py4j zip and the spark-core jar, behind 16 importer instances: about
   26.7k directory entries, 0.13 s a task (0.45 s of a 0.51 s trivial
   pandas-UDF task under cProfile). Here an importer re-reads
   only when the archive's ``(st_mtime_ns, st_size)`` differs from the
   one its directory was read at; a stat failure still re-reads, so a
   rewritten archive and a zip newly shipped by ``addPyFile`` are read
   as before.

Activated via ``spark.python.daemon.module`` (session.py). The module
must be importable on every executor host; in local mode that is this
repo, on a cluster it ships with the package like every other module.
``pyspark.daemon.manager`` is the same entry point the stock daemon
runs; the worker protocol is unchanged.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

# the THP stall fix must be in place before numpy's first import in
# every worker lineage (see dumpty_spark/__init__.py)
os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _cache_archive_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed since that directory was
    read. No-op on Python >= 3.13.

    Every directory read is recorded with the archive's stamp, taken
    before the read (a write racing the read leaves an older stamp, so
    the next call re-reads). An importer is current when it holds the
    directory of the last recorded read of its archive and that read's
    stamp is the archive's stamp now. Importers that already exist (the
    interpreter's start-up imports make them for the zips on
    ``PYTHONPATH``) are brought up to date once, here, so the daemon
    forks current ones.
    """
    if sys.version_info >= (3, 13):
        return
    reads: dict[str, tuple[tuple[int, int] | None, dict]] = {}
    read_directory = zipimport._read_directory
    stock_invalidate = zipimport.zipimporter.invalidate_caches

    def _recorded_read(archive):
        stamp = _stamp(archive)
        files = read_directory(archive)
        reads[archive] = (stamp, files)
        return files

    def invalidate_caches(self):
        stamp, files = reads.get(self.archive, (None, None))
        if stamp is None or self._files is not files or _stamp(self.archive) != stamp:
            stock_invalidate(self)

    zipimport._read_directory = _recorded_read
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


# before the preload, so the importers its imports create are recorded
_cache_archive_directories()

try:  # preload order: numpy -> pandas -> pyarrow (heaviest last)
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
except Exception:  # pragma: no cover - a worker without the libs still works
    pass

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    gc.collect()  # what is garbage now would never be collected once frozen
    gc.freeze()
    manager()
