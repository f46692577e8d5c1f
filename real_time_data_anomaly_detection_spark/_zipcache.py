"""Skip zip-archive directory re-reads when the archive has not changed.

A reused PySpark Python worker calls ``importlib.invalidate_caches()``
at the start of every task (``pyspark.worker`` → ``setup_spark_files``).
Before Python 3.13 that makes every ``zipimporter`` on the path re-read
its archive's central directory at once. The workers import pyspark from
``pyspark.zip`` (about 1,300 entries, one importer per imported
subpackage): with 14 importers one ``invalidate_caches()`` took about
150 ms on a 4-core x86 host, paid by every task before it read a row,
and 0.1 ms with the guard. Python 3.13 drops the cache entry instead and
reloads lazily, so there :func:`install` does nothing.

The guard keeps the stdlib behaviour for an archive that changed: it
skips the reload only while the archive's ``(st_ino, st_mtime_ns,
st_size)`` equals the signature taken when this process last read it
and the directory is still in ``zipimport._zip_directory_cache``.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat signature taken just before its last guarded read
_read_at: dict[str, tuple[int, int, int]] = {}


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches``; idempotent."""
    stdlib = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(stdlib, "_guarded", False):
        return

    def invalidate_caches(self):
        sig = _signature(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and cached is not None and _read_at.get(self.archive) == sig:
            self._files = cached
            return
        stdlib(self)
        if sig is not None:
            _read_at[self.archive] = sig

    invalidate_caches._guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
