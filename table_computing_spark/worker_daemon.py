"""Python worker daemon that keeps zip archive directories between tasks.

Every task a reused pyspark worker runs calls `importlib.invalidate_caches()`
(`pyspark.worker_util.setup_spark_files`). On CPython 3.10-3.12 that makes
each zipimporter re-read its archive's central directory at once: ~115 ms
per task for the importers on pyspark.zip, paid by every pandas UDF,
`applyInPandas` and Python-state task. Here an archive is re-read only when
its `(st_mtime_ns, st_size)` changed since the last read. CPython 3.13+
reads lazily (`zipimporter._get_files`) and keeps its own method.

`get_spark` sets `spark.python.daemon.module` to this module; forked
workers inherit the replacement from the daemon.
"""

from __future__ import annotations

import os
import zipimport

# (st_mtime_ns, st_size) of each archive at its last directory read; one
# per process, like zipimport's own `_zip_directory_cache` beside it.
_read_stamps: dict[str, tuple[int, int] | None] = {}


def _invalidate_caches(self) -> None:
    """Reload the archive's directory if the file changed since its last read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    cached = zipimport._zip_directory_cache.get(self.archive)
    if cached is not None and stamp is not None and _read_stamps.get(self.archive) == stamp:
        self._files = cached
        return
    try:
        self._files = zipimport._read_directory(self.archive)
        zipimport._zip_directory_cache[self.archive] = self._files
        _read_stamps[self.archive] = stamp
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(self.archive, None)
        _read_stamps.pop(self.archive, None)
        self._files = {}


if __name__ == "__main__":
    from pyspark import daemon

    if not hasattr(zipimport.zipimporter, "_get_files"):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    daemon.manager()
