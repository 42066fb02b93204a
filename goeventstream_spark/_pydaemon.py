"""Python daemon for the Spark workers of a :func:`get_spark` session.

Spark forks every Python worker from one daemon process per executor
(``spark.python.daemon.module``, stock ``pyspark.daemon``). Before each
task a worker runs PySpark's ``setup_spark_files``, which ends in
``importlib.invalidate_caches()``. Up to CPython 3.12 that calls
``zipimport.zipimporter.invalidate_caches`` on every zip importer in
``sys.path_importer_cache``, and each call re-reads its archive's whole
central directory: about 18 importers over ``pyspark.zip`` (1,328
entries), the py4j zip and the spark-core jar (5,359 entries), about
0.24 s of CPU per task on a 4-core x86 host. At serve-loop batch sizes
that is most of a stateful task. CPython 3.13 made the re-read lazy.

This daemon installs, on Python < 3.13 only, an ``invalidate_caches``
that re-reads an archive only when its ``(st_mtime_ns, st_size)`` stamp
differs from the stamp taken before its last read, primes the stamps
once, then hands over to ``pyspark.daemon.manager()``. Every forked
worker inherits the patched method and the stamps, so the per-task
invalidation costs one ``stat`` per importer; a rewritten or new archive
is still re-read. The driver process never runs this module.

Delete this module (and its conf in ``session.get_spark``) once the
lowest supported Python is 3.13.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size), taken just before the read
# that filled zipimport's directory cache for that archive.
_read_stamps: dict[str, tuple[int, int]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Reload the file data of the archive path if the archive changed
    since it was last read; otherwise share the directory already read.
    One read serves every importer of an archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stock_invalidate_caches(self)  # gone: the stock method drops it
    stamp = st.st_mtime_ns, st.st_size
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate_caches(self)
    _read_stamps[self.archive] = stamp


def install() -> None:
    """Patch zip importers of this process (Python < 3.13) and take the
    stamps of every archive imported so far."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


def main() -> None:
    install()
    # pyspark.daemon picks the worker module from sys.argv at import time.
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    # Run by Spark as ``python -m``: import the module under its package
    # name, so the installed method reports this module, not __main__.
    from goeventstream_spark._pydaemon import main as _main

    _main()
