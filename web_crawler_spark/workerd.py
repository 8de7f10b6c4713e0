"""Python worker daemon for local sessions (``spark.python.daemon.module``).

Every Python task starts with ``importlib.invalidate_caches()`` (pyspark's
``setup_spark_files``). Before CPython 3.13 (gh-103200) that makes every
cached ``zipimporter`` re-parse its archive's whole central directory: the
worker imports pyspark from ``pyspark.zip`` and also has the spark-core jar
on its path, so each task paid ~0.2 s before running a row. This daemon
re-reads an archive only when its ``(mtime, size, inode)`` changed since the
last read, then runs pyspark's own daemon; workers fork from it and inherit
the patch. On 3.13+ it only runs pyspark's daemon.
"""

import importlib
import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_read_stamps: dict = {}


def _stamp(path: str):
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self) -> None:
    """Stock ``zipimporter.invalidate_caches``, skipped for an unchanged archive."""
    try:
        stamp = _stamp(self.archive)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate(self)
    _read_stamps[self.archive] = stamp


def install() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()  # read each archive once, here, before the forks


def main() -> None:
    from pyspark import daemon  # imports pyspark.worker: its zipimporters exist now

    install()
    daemon.manager()


if __name__ == "__main__":
    # run as the package module, so workers call workerd.invalidate_caches
    from web_crawler_spark.workerd import main

    main()
