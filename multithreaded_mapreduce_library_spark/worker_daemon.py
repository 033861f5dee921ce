"""Python worker daemon for this engine's sessions (``spark.python.daemon.module``).

Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython < 3.13 that makes every
``zipimporter`` on ``sys.path`` eagerly re-read its whole archive directory:
the workers' path holds pyspark.zip, py4j and the spark-core jar, 16
importers in a reused worker, which costs 0.1-0.4 s of executor CPU per
task, more than many tasks' own work. CPython 3.13+ only drops the cached
directory and re-reads it lazily, so there this module changes nothing.

``install`` keeps the re-read but skips it when the archive's
``(st_mtime_ns, st_size)`` equals what the importer saw when it last read
it; a changed or vanished archive is re-read exactly as before. Run as a
module, it installs the guard and then runs ``pyspark.daemon``'s manager,
whose forked workers inherit it.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _archive_stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Guard ``zipimporter.invalidate_caches`` (CPython < 3.13 only); idempotent."""
    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(reread, "skips_unchanged_archives", False):
        return

    def invalidate_caches(self) -> None:
        # Stat before reading: an archive that changes in between leaves an
        # older stamp behind, so the next call reads it again.
        stamp = _archive_stamp(self.archive)
        if stamp is None or getattr(self, "_read_stamp", None) != stamp:
            reread(self)
            self._read_stamp = stamp

    invalidate_caches.skips_unchanged_archives = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
