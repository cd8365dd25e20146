"""Backport of CPython 3.13's lazy `zipimporter.invalidate_caches`.

`importlib.invalidate_caches()` calls it on every zip importer in
`sys.path_importer_cache`, and PySpark calls `importlib.invalidate_caches()`
before every Python task (`pyspark.worker_util.setup_spark_files`). Before
3.13 each call re-reads the archive's central directory in pure Python: a
worker whose path holds pyspark.zip and the spark-core jar (5k entries)
paid 0.2-0.5 s per task. Here an archive is re-read only when its
(st_mtime_ns, st_size) differs from when it was last read, so a replaced
zip is still seen. Importing the package installs it; a reused worker then
re-reads each archive at most once more.
"""

from __future__ import annotations

import os
import sys
import zipimport

if sys.version_info < (3, 13):
    _stamps: dict[str, tuple[int, int] | None] = {}

    def _stamp(archive: str) -> tuple[int, int] | None:
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def _read_directory(archive, _read=zipimport._read_directory):
        stamp = _stamp(archive)
        files = _read(archive)
        _stamps[archive] = stamp
        return files

    def invalidate_caches(self, _reread=zipimport.zipimporter.invalidate_caches):
        """Re-read the archive only if it changed since it was last read."""
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = _stamp(self.archive)
        if files is None or stamp is None or _stamps.get(self.archive) != stamp:
            _reread(self)
        else:
            self._files = files  # another importer of this archive re-read it

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
