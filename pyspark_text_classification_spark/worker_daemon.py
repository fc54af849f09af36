"""PySpark worker daemon that stops each task from re-reading zip archives.

Root cause: at the start of every task the PySpark worker calls
``importlib.invalidate_caches()`` (``setup_spark_files`` in
``pyspark/worker_util.py``). On CPython 3.11 and 3.12,
``zipimport.zipimporter.invalidate_caches()`` re-reads the archive's whole
central directory in pure Python on every call, changed or not. A warm
worker holds one zipimporter per imported subpackage of ``pyspark.zip``
(~13 ms per re-read, 13 of them) plus two into the spark-core jar
(5k+ entries, 30-48 ms each), so every task spent 200-300 ms re-reading
archives before its UDF ran (4 cores, CPython 3.11.7, Spark 4.1.2).

Fix: :func:`install` re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the stamp taken at its last read,
the same change test ``FileFinder`` applies to directories. A new or
rewritten archive (``addPyFile``) is still picked up. The daemon installs
the patch, primes the stamps, then runs PySpark's stock daemon; forked
workers inherit both. :func:`session.get_session` selects this module
through ``spark.python.daemon.module``.

Run as ``python -m pyspark_text_classification_spark.worker_daemon``
(Spark does so itself); importing the module patches nothing.
"""

from __future__ import annotations

import os
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Patch zipimport in this process so ``invalidate_caches`` re-reads
    an archive only after it changed. No-op on a Python whose zipimport
    lacks the internals the patch relies on."""
    read_directory = getattr(zipimport, "_read_directory", None)
    cache = getattr(zipimport, "_zip_directory_cache", None)
    if read_directory is None or cache is None:
        return
    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int] | None] = {}

    def read_stamped(archive):
        # stamp before reading: a write during the read re-reads next time
        stamp = _stamp(archive)
        files = read_directory(archive)
        stamps[archive] = stamp
        return files

    def invalidate_if_changed(self):
        files = cache.get(self.archive)
        stamp = _stamp(self.archive)
        if files is None or stamp is None or stamps.get(self.archive) != stamp:
            reread(self)
        else:
            # another importer of the same archive may have re-read it
            self._files = files

    zipimport._read_directory = read_stamped
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed


if __name__ == "__main__":
    import importlib

    install()
    # one stamped re-read of every archive opened before install()
    importlib.invalidate_caches()

    from pyspark.daemon import manager

    manager()
