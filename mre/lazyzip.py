"""Zip finders that re-read an archive only when it changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py: setup_spark_files``), so a py-file
shipped mid-session becomes importable. On CPython 3.10-3.12 that calls
``zipimporter.invalidate_caches()`` on every zip finder in
``sys.path_importer_cache``, and each call re-reads the archive's whole
central directory in pure Python. A worker holds one such finder per
imported pyspark subpackage (``pyspark.zip``, ~1.3k entries, ~10 ms a
read) and two for the spark-core jar Spark puts on every worker's path
(~5.4k entries, ~47 ms a read): 0.17-0.32 s of fixed cost per task,
against a UDF body of under a millisecond.

``install()`` runs once per process when ``mre`` is imported, and every
Python worker imports ``mre`` when it unpickles an mre kernel. It puts
``LazyZipImporter`` in place of ``zipimport.zipimporter`` in
``sys.path_hooks`` and converts the finders already in
``sys.path_importer_cache`` in place (their directory is already read, so
this costs no re-read, and modules loaded through them keep the same
loader object). ``LazyZipImporter.invalidate_caches()`` re-reads an
archive only when its ``(st_mtime_ns, st_size)`` differs from the one
taken before its last read; finders that share an archive share that
read through zipimport's own directory cache.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size), taken just before the archive's
# directory was last read by LazyZipImporter.invalidate_caches(). Stat
# BEFORE the read: a write that races the read changes the stamp, so the
# next call re-reads. An archive with no stamp is re-read on first call.
_stamps: dict[str, tuple[int, int]] = {}


class LazyZipImporter(zipimport.zipimporter):
    """``zipimporter`` whose ``invalidate_caches()`` is a stat when the
    archive is unchanged."""

    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
        except OSError:   # archive gone: the base class drops its entry
            _stamps.pop(archive, None)
            super().invalidate_caches()
            return
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(archive)
        if files is not None and _stamps.get(archive) == stamp:
            self._files = files   # a sibling finder may have re-read it
        else:
            super().invalidate_caches()
            _stamps[archive] = stamp


def install() -> bool:
    """Make zip finders stat-checked in this process. Returns True when
    this call changed anything; a second call, or a Python whose
    ``zipimporter`` has no ``invalidate_caches``, is a no-op."""
    plain = zipimport.zipimporter
    if getattr(plain, "invalidate_caches", None) is None:
        return False
    changed = False
    for i, hook in enumerate(sys.path_hooks):
        if hook is plain:
            sys.path_hooks[i] = LazyZipImporter
            changed = True
    for finder in list(sys.path_importer_cache.values()):
        if type(finder) is plain:
            finder.__class__ = LazyZipImporter
            changed = True
    return changed
