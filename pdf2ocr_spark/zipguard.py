"""Stop reused Python workers from re-reading unchanged zip archives.

A reused PySpark worker calls ``importlib.invalidate_caches()`` before
every task (``pyspark.worker_util.setup_spark_files``). Up to CPython
3.12, ``zipimport.zipimporter.invalidate_caches`` re-reads its archive's
whole central directory eagerly, and a worker holds one importer per
package directory it imported from: 12 over ``pyspark.zip`` (1,328
entries), 2 over the py4j zip and 2 over the Spark core jar (5,359
entries) in a worker that has run an engine stage. Measured on a 4-core
x86 box with CPython 3.11.7 and Spark 4.1.2, that costs 0.18-0.27 s per
task, while the docgen and extraction work of a 256-document streaming
micro-batch is 55-75 ms.

``install()`` replaces the method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size)`` changed since the last read, and
shares that read among all importers of the same archive. The package's
``__init__`` installs it, so every worker that unpickles an engine
closure holds it, and worker reuse keeps it for later tasks. From
CPython 3.13 ``invalidate_caches`` only drops the cached directory (it
is re-read lazily on next use), and ``install()`` does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> ((st_mtime_ns, st_size) taken before the read, directory)
_seen: dict[str, tuple[tuple[int, int], dict]] = {}


def _invalidate_caches(self) -> None:
    """CPython 3.11/3.12's ``zipimporter.invalidate_caches``, minus the
    read when the archive is unchanged since the last one."""
    archive = self.archive
    try:
        st = os.stat(archive)
        stamp = (st.st_mtime_ns, st.st_size)
        seen = _seen.get(archive)
        if seen is not None and seen[0] == stamp:
            files = seen[1]
        else:
            # stat before the read: a change racing the read leaves a
            # stale stamp, which forces one more read, never a missed one
            files = zipimport._read_directory(archive)
            _seen[archive] = (stamp, files)
    except (OSError, zipimport.ZipImportError):
        _seen.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        self._files = {}
        return
    zipimport._zip_directory_cache[archive] = self._files = files


def install() -> None:
    """Install the guard on ``zipimport.zipimporter`` (idempotent; a
    no-op on CPython 3.13 and later)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
