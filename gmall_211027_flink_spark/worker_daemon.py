"""PySpark worker daemon that keeps zip-archive directories across tasks.

``session.get_spark`` names this module in ``spark.python.daemon.module``;
Spark starts it as ``python -m gmall_211027_flink_spark.worker_daemon``
and it forks the Python workers exactly as ``pyspark.daemon`` does.

Why: at the start of every task PySpark's worker calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``).
On Python 3.11 each cached ``zipimport.zipimporter`` then re-reads the
whole central directory of its archive. A worker holds one importer per
package directory it imported from ``pyspark.zip`` (1328 entries), so one
call re-reads that directory about 14 times: 122-129 ms per task, spent
before the task's own work (SCALE.md §25). Python 3.12 made the re-read
lazy (checked against the archive's stat on the next lookup), so the
importer here is installed only on older versions.

``_GatedZipImporter.invalidate_caches`` re-reads an archive only when its
(inode, size, mtime_ns) changed since the directory it holds was read. An
archive rewritten in place is still seen, on the next invalidation; one
that keeps its inode, size and mtime_ns to the nanosecond is not.

The executors import this module, so they must be able to import the
package -- which they already must: UDFs and state processors are pickled
by reference to the package's modules.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _signature(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


# the signature of the directory each archive has in
# ``zipimport._zip_directory_cache``; importers of one archive share it
_read_at: dict[str, tuple[int, int, int] | None] = {}


class _GatedZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches`` skips an unchanged archive."""

    def __init__(self, path: str):
        super().__init__(path)
        self._signature = _read_at.setdefault(
            self.archive, _signature(self.archive))

    def invalidate_caches(self) -> None:
        sig = _signature(self.archive)
        if sig is not None and sig == self._signature:
            return
        cached = zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and sig == _read_at.get(self.archive) \
                and cached is not None:
            # another importer of this archive already re-read it
            self._files = cached
        else:
            super().invalidate_caches()
            _read_at[self.archive] = sig
        self._signature = sig


def install() -> bool:
    """Put ``_GatedZipImporter`` in place of ``zipimport.zipimporter`` on
    ``sys.path_hooks`` and in ``sys.path_importer_cache``. Returns whether
    it is installed; on Python 3.12 and later it does nothing."""
    if sys.version_info >= (3, 12):
        return False
    sys.path_hooks[:] = [_GatedZipImporter if h is zipimport.zipimporter
                         else h for h in sys.path_hooks]
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if type(finder) is zipimport.zipimporter:
            cache[path] = _GatedZipImporter(path)
    return True


def installed() -> bool:
    """Whether this process imports zip archives through the gated importer."""
    return _GatedZipImporter in sys.path_hooks


if __name__ == "__main__":
    # install through the package's own copy of this module, so a worker
    # that imports it by name sees the importer it forked with
    from gmall_211027_flink_spark import worker_daemon

    worker_daemon.install()
    # pyspark.daemon reads the worker module from sys.argv[1] on import
    from pyspark import daemon

    daemon.manager()
