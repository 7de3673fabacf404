"""Python worker daemon for the engine's Spark sessions.

``get_spark`` starts Spark's Python workers through this module
(``spark.python.daemon.module``). It runs ``pyspark.daemon.manager()``
unchanged, after one import-system fix that forked workers inherit.

Every Python task calls ``importlib.invalidate_caches()`` (pyspark's
``worker_util.setup_spark_files``). Workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip``, and on CPython < 3.12 each
``zipimporter`` of that archive, one per package directory imported from
it, then re-reads the archive's whole central directory: 14-16
re-reads of 1,328 entries, 120-200 ms of CPU on a 4-vCPU VM before the
task's own code runs. CPython 3.12 made that refresh lazy. Here, on
older versions, ``zipimporter.invalidate_caches`` re-reads an archive
only when its ``(st_mtime_ns, st_size)`` changed since the last read,
and every importer of the archive shares that one read through
``zipimport._zip_directory_cache``. An archive that can no longer be
stat'ed gets the stdlib refresh. Zips added mid-session with
``addPyFile`` are new archives, so they are read as before.

Run as ``python -m parquet_go_spark.spark.pyworker [worker_module]``,
the same arguments ``pyspark.daemon`` takes.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) of the file when its directory
# was last read into zipimport._zip_directory_cache
_stamps: dict[str, tuple[int, int]] = {}
_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    archive = self.archive
    try:
        st = os.stat(archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None and _stamps.get(archive) == stamp:
        self._files = files
        return
    _stamps.pop(archive, None)
    # the stdlib re-read stores the new directory in the shared cache,
    # or drops the archive from it when the read fails
    _stdlib_invalidate(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` on CPython < 3.12, where
    the stdlib refresh re-reads every archive. Returns whether it did."""
    if sys.version_info >= (3, 12):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


def main() -> None:
    if install():
        # read each archive once here, so forked workers start with
        # every stamp recorded
        importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    # run the package's instance of this module, so task code that
    # imports it sees the stamps and the patch the workers inherited
    from parquet_go_spark.spark.pyworker import main as _main

    _main()
