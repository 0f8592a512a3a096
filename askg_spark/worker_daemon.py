"""Python worker daemon for askg_spark sessions.

``session.DEFAULT_CONFS`` sets ``spark.python.daemon.module`` to this
module, so Spark launches it (``python -m askg_spark.worker_daemon``)
in place of ``pyspark.daemon``. It runs the stock ``pyspark.daemon``
manager unchanged and removes two fixed costs that every reused Python
worker otherwise pays on every task:

  * **Zip re-reads.** ``pyspark.worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` on every task, and Python 3.11's
    ``zipimporter.invalidate_caches()`` re-reads the whole archive
    directory each time. Workers import pyspark from ``pyspark.zip``
    (~1.3k entries) through one zipimporter per package directory, so
    a task re-read that directory ~16 times. Here a zip importer
    re-reads its archive only when the file's (mtime, size) changed
    since the last read, and one read serves every importer of that
    archive. Directory finders are still invalidated on every task, so
    modules added with ``addPyFile`` keep importing. Python >= 3.12
    invalidates zip importers lazily, so there the patch is skipped.
  * **Full collections of a pandas-sized heap.** After each task the
    daemon runs ``gc.collect()``, which walks every object of the
    pandas / pyarrow / askg_spark modules the first task imported.
    After a worker's first task this module collects once and then
    ``gc.freeze()``-s the survivors, so later collections only walk
    what later tasks allocated. Frozen objects are still freed by
    reference counting; only cycles among them are never collected.
    pandas and pyarrow are deliberately NOT imported in the daemon
    before forking: every forked worker would count those shared
    pages in its RSS again.

The module wraps ``pyspark.daemon.worker_main`` and the zipimporter
method instead of copying ``pyspark.daemon``, so there is no second
daemon to keep in sync with the installed pyspark.

Workers must be able to import ``askg_spark`` when the daemon starts,
before any ``addPyFile`` is fetched; ``session.get_spark`` puts the
package's directory on the workers' ``PYTHONPATH``. Importing this
module has no side effects: the patches are applied by :func:`main`.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

_stock_zip_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (mtime_ns, size) at the last directory read
_zip_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_zip_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive
    directory only when the file changed since the last read."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if (stamp is not None and files is not None
            and _zip_stamps.get(self.archive) == stamp):
        self._files = files
        return
    # stat before read: a change racing the read leaves the old stamp,
    # so the next call reads again
    _stock_zip_invalidate(self)
    if stamp is not None:
        _zip_stamps[self.archive] = stamp


def _freeze_after_first_task(worker_main):
    frozen = False

    def main(infile, outfile):
        nonlocal frozen
        worker_main(infile, outfile)
        if not frozen:
            frozen = True
            gc.collect()
            gc.freeze()

    return main


def main() -> None:
    import pyspark.daemon as daemon

    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_zip_if_changed
    daemon.worker_main = _freeze_after_first_task(daemon.worker_main)
    daemon.manager()


if __name__ == "__main__":
    main()
