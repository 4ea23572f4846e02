"""Keep PySpark workers from re-reading zip archive directories every task.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which ends with ``importlib.invalidate_caches()``.  On CPython 3.11,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory, in pure Python, without checking whether the archive
changed.  A worker holds one importer per package directory it imported
from ``pyspark.zip`` (about 16, over an archive of 1,328 entries), so each
task re-read the same directory about 16 times: 0.12-0.22 CPU-s per task
on a 4-core x86 VM, nearly all of ``pyspark.worker.main``'s own time.

``install`` replaces that method with ``invalidate_caches`` below: an
archive is re-read only when its ``(st_ino, st_size, st_mtime_ns)``
differs from the one stamped at its last read, so a rewritten or replaced
zip is still picked up on the next task.  The package's ``__init__``
installs it only inside PySpark worker processes; interpreters whose
zipimport lacks the internals it relies on keep stock behaviour.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> (st_ino, st_size, st_mtime_ns) taken before its last read
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _refresh(archive: str, stamp) -> dict:
    """Re-read ``archive``'s directory into the shared cache, as the stock
    method does, and remember the stamp taken before the read."""
    _stamps.pop(archive, None)
    try:
        files = zipimport._read_directory(archive)
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(archive, None)
        return {}
    zipimport._zip_directory_cache[archive] = files
    if stamp is not None:
        _stamps[archive] = stamp
    return files


def invalidate_caches(self) -> None:
    """Reload the archive's file data if the archive changed since the
    last read; otherwise reuse the cached directory."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is None or stamp is None or _stamps.get(self.archive) != stamp:
        files = _refresh(self.archive, stamp)
    self._files = files


def install() -> bool:
    """Swap in the guarded ``invalidate_caches``; True once it is in place.

    Idempotent.  Every archive already cached is re-read once here, so its
    stamp matches its cached directory.  Returns False, changing nothing,
    when zipimport lacks the shared ``_zip_directory_cache`` or a stock
    ``invalidate_caches`` that assigns ``_files`` (CPython 3.13 re-reads
    lazily and needs no guard)."""
    importer = zipimport.zipimporter
    if importer.invalidate_caches is invalidate_caches:
        return True
    stock = getattr(importer.invalidate_caches, "__code__", None)
    if not (isinstance(getattr(zipimport, "_zip_directory_cache", None), dict)
            and hasattr(zipimport, "_read_directory")
            and stock is not None and "_files" in stock.co_names):
        return False
    for archive in list(zipimport._zip_directory_cache):
        _refresh(archive, _stamp(archive))
    importer.invalidate_caches = invalidate_caches
    return True
