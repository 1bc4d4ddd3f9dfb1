"""Lazy zip-importer invalidation for the Python workers.

Spark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On CPython
< 3.13 that makes every ``zipimporter`` re-read its archive's whole
central directory; the workers import pyspark and py4j from zips, so a
task paid ~0.25 s of CPU before it saw a row. ``install()`` swaps in
3.13's lazy behaviour: an archive is re-read only when its
``(st_mtime_ns, st_size)`` changed since the last read, so a rewritten
zip is still picked up. FileFinder caches are invalidated as before.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> its (st_mtime_ns, st_size) at the last read; process-wide
# like zipimport._zip_directory_cache, which it vouches for
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and stamp is not None and stamp == _stamps.get(
        self.archive
    ):
        self._files = files
        return
    # The body of 3.11/3.12's eager invalidate_caches.
    try:
        self._files = zipimport._read_directory(self.archive)
        zipimport._zip_directory_cache[self.archive] = self._files
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(self.archive, None)
        self._files = {}
    _stamps[self.archive] = stamp


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` lazy. Idempotent; a no-op
    on CPython >= 3.13, whose own invalidation is already lazy."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
